package graft.queries

import graft.operators.{Association, Drift, Transformers}
import graft.queries.QueryPack._
import org.apache.spark.sql.functions._

/** Association / drift / stability analytics-kernel queries
  * (SURVEY.md §2.11).
  */
object AnalyticsQueries {

  private val corrCols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
  val qCorrelation = Q(
    "q_correlation_matrix",
    (s, dir) => Association.correlationMatrix(tables(s, dir).lineitem, corrCols),
    Some {
      val pairs = for (a <- corrCols; b <- corrCols if a < b) yield (a, b)
      pairs.map { case (a, b) =>
        s"SELECT '$a' AS attribute_1, '$b' AS attribute_2, round(corr($a, $b), 4) AS corr FROM lineitem"
      }.mkString(" UNION ALL ")
    })

  /** Spearman (rank) correlations over the same column set: exact
    * tie-aware average ranks on both engines — the engine's two-phase
    * prefix sum over sorted distinct values computes cnt_lt + (cnt+1)/2,
    * the oracle the equivalent rank() + (count-1)/2 window — and the
    * rank doubles are integer-or-half valued, so they compare EXACTLY
    * across engines before the corr aggregate (the only cross-engine
    * noise left is the corr summation order, the Pearson precedent).
    * Heavy ties (l_quantity: 50 distinct, l_discount: 11, l_tax: 9)
    * exercise the fractional-rank path hard.
    */
  val qSpearman = Q(
    "q_spearman_matrix",
    (s, dir) => Association.spearmanMatrix(tables(s, dir).lineitem, corrCols),
    Some {
      val notNull = corrCols.map(c => s"$c IS NOT NULL").mkString(" AND ")
      val rankCols = corrCols.map(c =>
        s"rank() OVER (ORDER BY CAST($c AS DOUBLE)) + " +
          s"(count(*) OVER (PARTITION BY CAST($c AS DOUBLE)) - 1) / 2.0 AS __rank_$c")
        .mkString(", ")
      val pairs = for (a <- corrCols; b <- corrCols if a < b) yield (a, b)
      val selects = pairs.map { case (a, b) =>
        s"""SELECT '$a' AS attribute_1, '$b' AS attribute_2,
            round(corr(__rank_$a, __rank_$b), 4) AS corr FROM r"""
      }.mkString(" UNION ALL ")
      s"""
      WITH base AS (SELECT ${corrCols.mkString(", ")} FROM lineitem WHERE $notNull),
      r AS (SELECT $rankCols FROM base)
      $selects"""
    })

  /** Categorical association (MI / χ² / Cramér's V) over the lineitem
    * flag columns — per-cell terms pre-round to 8 dp and sum in DECIMAL,
    * so only the ln/libm ulp (the PSI precedent) sits under the final
    * 4-dp round.
    */
  val qCatAssociation = Q(
    "q_cat_association",
    (s, dir) => Association.catAssociation(tables(s, dir).lineitem,
      Seq("l_quantity", "l_linestatus", "l_returnflag")),
    Some {
      val cols = Seq("l_quantity", "l_linestatus", "l_returnflag")
      val pairs = for (a <- cols; b <- cols if a < b) yield (a, b)
      pairs.map { case (a, b) =>
        val filt = s"$a IS NOT NULL AND $b IS NOT NULL"
        s"""
        SELECT '$a' AS attribute_1, '$b' AS attribute_2,
          round(CAST(sum(CAST(round(
            (nab / n) * ln(nab * n / (na * nb)), 8) AS DECIMAL(28,8))) AS DOUBLE), 4) AS mi,
          round(chi2o + (nn - esum), 4) AS chi2,
          round(sqrt((chi2o + (nn - esum))
            / (nn * (least((SELECT count(DISTINCT $a) FROM lineitem WHERE $filt),
                           (SELECT count(DISTINCT $b) FROM lineitem WHERE $filt)) - 1))), 4)
            AS cramers_v
        FROM (
          SELECT *,
            CAST(sum(CAST(round(
              (nab - na * nb / n) * (nab - na * nb / n) / (na * nb / n), 8)
              AS DECIMAL(28,8))) OVER () AS DOUBLE) AS chi2o,
            CAST(sum(CAST(round(na * nb / n, 8) AS DECIMAL(28,8))) OVER () AS DOUBLE) AS esum,
            CAST((SELECT count(*) FROM lineitem WHERE $filt) AS DOUBLE) AS nn
          FROM (
            SELECT CAST(count(*) AS DOUBLE) AS nab,
                   CAST(sum(count(*)) OVER (PARTITION BY $a) AS DOUBLE) AS na,
                   CAST(sum(count(*)) OVER (PARTITION BY $b) AS DOUBLE) AS nb,
                   CAST(sum(count(*)) OVER () AS DOUBLE) AS n
            FROM lineitem WHERE $filt
            GROUP BY $a, $b))
        GROUP BY chi2o, esum, nn"""
      }.mkString(" UNION ALL ")
    })

  /** Theil's U both directions per pair — one contingency aggregation
    * serves H(x), H(y), H(x|y), H(y|x) via the Σ_b n_ab = n_a identity;
    * the ln/libm ulp rides under the 4-dp round as usual.
    */
  val qTheilsU = Q(
    "q_theils_u",
    (s, dir) => Association.theilsU(tables(s, dir).lineitem,
      Seq("l_quantity", "l_linestatus", "l_returnflag")),
    Some {
      val cols = Seq("l_quantity", "l_linestatus", "l_returnflag")
      val pairs = for (a <- cols; b <- cols if a < b) yield (a, b)
      pairs.map { case (a, b) =>
        s"""
        SELECT '$a' AS attribute_1, '$b' AS attribute_2,
          CASE WHEN hx > 0 THEN round((hx - hxy) / hx, 4) END AS u_1_given_2,
          CASE WHEN hy > 0 THEN round((hy - hyx) / hy, 4) END AS u_2_given_1
        FROM (
          SELECT
            CAST(sum(CAST(round(-(nab / n) * ln(na / n), 8) AS DECIMAL(28,8))) AS DOUBLE) AS hx,
            CAST(sum(CAST(round(-(nab / n) * ln(nb / n), 8) AS DECIMAL(28,8))) AS DOUBLE) AS hy,
            CAST(sum(CAST(round(-(nab / n) * ln(nab / nb), 8) AS DECIMAL(28,8))) AS DOUBLE) AS hxy,
            CAST(sum(CAST(round(-(nab / n) * ln(nab / na), 8) AS DECIMAL(28,8))) AS DOUBLE) AS hyx
          FROM (
            SELECT CAST(count(*) AS DOUBLE) AS nab,
                   CAST(sum(count(*)) OVER (PARTITION BY $a) AS DOUBLE) AS na,
                   CAST(sum(count(*)) OVER (PARTITION BY $b) AS DOUBLE) AS nb,
                   CAST(sum(count(*)) OVER () AS DOUBLE) AS n
            FROM lineitem WHERE $a IS NOT NULL AND $b IS NOT NULL
            GROUP BY $a, $b))"""
      }.mkString(" UNION ALL ")
    })

  /** Correlation ratio η for every (categorical, numeric) pair — exact
    * decimal group sums, deterministic single divisions, greatest(ssb,0)
    * guarding the tiny negative ssb float roundoff can produce.
    */
  val qCorrelationRatio = Q(
    "q_correlation_ratio",
    (s, dir) => Association.correlationRatio(tables(s, dir).lineitem,
      Seq("l_returnflag", "l_linestatus"), Seq("l_quantity", "l_discount")),
    Some {
      val pairs = for (c <- Seq("l_returnflag", "l_linestatus");
                       x <- Seq("l_quantity", "l_discount")) yield (c, x)
      pairs.map { case (c, x) =>
        s"""
        SELECT '$c' AS cat_attribute, '$x' AS num_attribute,
          CASE WHEN (s2 - s * s / n) > 0 THEN
            round(sqrt(greatest(ssb_raw - s * s / n, 0.0) / (s2 - s * s / n)), 4)
          END AS eta
        FROM (
          SELECT CAST(sum(ng) AS DOUBLE) AS n,
                 CAST(sum(sg) AS DOUBLE) AS s,
                 CAST(sum(s2g) AS DOUBLE) AS s2,
                 CAST(sum(CAST(round(CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE) / ng, 8)
                   AS DECIMAL(28,8))) AS DOUBLE) AS ssb_raw
          FROM (
            SELECT count(*) AS ng,
                   sum(CAST($x AS DECIMAL(18,4))) AS sg,
                   sum(CAST($x AS DECIMAL(18,4)) * CAST($x AS DECIMAL(18,4))) AS s2g
            FROM lineitem WHERE $c IS NOT NULL AND $x IS NOT NULL
            GROUP BY $c))"""
      }.mkString(" UNION ALL ")
    })

  private val driftCols = Seq("l_quantity", "l_extendedprice", "l_discount")
  private val splitDate = "TIMESTAMP '1997-07-01'"

  val qDrift = Q(
    "q_drift_statistics",
    (s, dir) => {
      val li = tables(s, dir).lineitem
      val source = li.filter(col("l_shipdate") < lit("1997-07-01").cast("timestamp"))
      val target = li.filter(col("l_shipdate") >= lit("1997-07-01").cast("timestamp"))
      // sampleCap = None: the OPERATOR default keeps the reference's 100k
      // detection cap; the verification query runs uncapped so the oracle
      // is exact at every scale (the full-data fit is still one melted
      // bin-count shuffle — histogram state, not row state)
      Drift.driftStatistics(source, target, driftCols, binCount = 10, sampleCap = None)
    },
    Some {
      val mmSelects = driftCols.flatMap(c => Seq(
        s"CAST(min($c) AS DOUBLE) AS lo_$c", s"CAST(max($c) AS DOUBLE) AS hi_$c")).mkString(", ")
      val longArms = driftCols.map { c =>
        val bin = binCaseSql(c, s"lo_$c", s"hi_$c", 10)
        s"""SELECT '$c' AS attribute, $bin AS bin, side FROM both_sides, mm"""
      }
      // `side` comes from a pre-tagged union of source/target rows
      val armSql = driftCols.map { c =>
        val bin = binCaseSql(c, s"lo_$c", s"hi_$c", 10)
        s"SELECT '$c' AS attribute, $bin AS bin, side FROM tagged, mm"
      }.mkString(" UNION ALL ")
      s"""
      WITH tagged AS (
        SELECT *, CASE WHEN l_shipdate < $splitDate THEN 's' ELSE 't' END AS side
        FROM lineitem),
      mm AS (SELECT $mmSelects FROM lineitem WHERE l_shipdate < $splitDate),
      long AS ($armSql),
      p AS (SELECT attribute, bin, CAST(count(*) AS DOUBLE) /
              (SELECT count(*) FROM tagged WHERE side = 's') AS p
            FROM long WHERE side = 's' GROUP BY attribute, bin),
      q AS (SELECT attribute, bin, CAST(count(*) AS DOUBLE) /
              (SELECT count(*) FROM tagged WHERE side = 't') AS q
            FROM long WHERE side = 't' GROUP BY attribute, bin),
      xy AS (
        SELECT coalesce(p.attribute, q.attribute) AS attribute,
               coalesce(p.bin, q.bin) AS bin,
               CASE WHEN p.p IS NULL OR p.p = 0 THEN 0.0001 ELSE p.p END AS p,
               CASE WHEN q.q IS NULL OR q.q = 0 THEN 0.0001 ELSE q.q END AS q
        FROM p FULL OUTER JOIN q ON p.attribute = q.attribute AND p.bin = q.bin),
      cums AS (
        SELECT *, sum(p) OVER (PARTITION BY attribute ORDER BY bin
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_p,
                  sum(q) OVER (PARTITION BY attribute ORDER BY bin
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_q,
                  (p + q) / 2 AS m
        FROM xy)
      SELECT attribute,
        round(sum((p - q) * ln(p / q)), 4) AS "PSI",
        round(sqrt(sum(pow(sqrt(p) - sqrt(q), 2)) / 2), 4) AS "HD",
        round((sum(p * ln(p / m)) + sum(q * ln(q / m))) / 2, 4) AS "JSD",
        round(max(abs(cum_p - cum_q)), 4) AS "KS",
        CASE WHEN round(sum((p - q) * ln(p / q)), 4) > 0.1 THEN 1 ELSE 0 END AS flagged
      FROM cums GROUP BY attribute"""
    })

  /** Multi-period stability index over weekly splits of the events
    * stream.
    */
  val qStability = Q(
    "q_stability_index",
    (s, dir) => {
      val e = tables(s, dir).events
      val periods = Seq(
        e.filter(dayofmonth(col("ts")) <= 7),
        e.filter(dayofmonth(col("ts")).between(8, 14)),
        e.filter(dayofmonth(col("ts")).between(15, 21)),
        e.filter(dayofmonth(col("ts")) >= 22))
      Drift.stabilityIndex(periods, Seq("value"))
    },
    Some("""
      WITH p AS (
        SELECT CASE WHEN day(ts) <= 7 THEN 0
                    WHEN day(ts) <= 14 THEN 1
                    WHEN day(ts) <= 21 THEN 2
                    ELSE 3 END AS idx,
               CAST(value AS DOUBLE) AS value
        FROM events),
      mu AS (SELECT idx, avg(value) AS mean, stddev_samp(value) AS sd FROM p GROUP BY idx),
      kt AS (SELECT p.idx,
               (sum(pow(value - mean, 4)) / count(*)) /
                 pow(sum(pow(value - mean, 2)) / count(*), 2) AS kurt
             FROM p JOIN mu ON p.idx = mu.idx GROUP BY p.idx),
      stats AS (SELECT mu.idx, mu.mean, mu.sd, kt.kurt FROM mu JOIN kt ON mu.idx = kt.idx),
      cv AS (
        SELECT 'value' AS attribute,
          round(abs(stddev_samp(mean) / avg(mean)), 4) AS cv_mean,
          round(abs(stddev_samp(sd) / avg(sd)), 4) AS cv_stddev,
          round(abs(stddev_samp(kurt) / avg(kurt)), 4) AS cv_kurtosis
        FROM stats),
      si AS (
        SELECT *,
          CASE WHEN cv_mean < 0.03 THEN 4 WHEN cv_mean < 0.1 THEN 3
               WHEN cv_mean < 0.2 THEN 2 WHEN cv_mean < 0.5 THEN 1 ELSE 0 END AS mean_si,
          CASE WHEN cv_stddev < 0.03 THEN 4 WHEN cv_stddev < 0.1 THEN 3
               WHEN cv_stddev < 0.2 THEN 2 WHEN cv_stddev < 0.5 THEN 1 ELSE 0 END AS stddev_si,
          CASE WHEN cv_kurtosis < 0.03 THEN 4 WHEN cv_kurtosis < 0.1 THEN 3
               WHEN cv_kurtosis < 0.2 THEN 2 WHEN cv_kurtosis < 0.5 THEN 1 ELSE 0 END AS kurtosis_si
        FROM cv)
      SELECT attribute, cv_mean, cv_stddev, cv_kurtosis, mean_si, stddev_si, kurtosis_si,
        round(mean_si * CAST(0.5 AS DOUBLE) + stddev_si * CAST(0.3 AS DOUBLE)
              + kurtosis_si * CAST(0.2 AS DOUBLE), 4) AS stability_index
      FROM si"""))

  /** IV + IG over orders: one categorical attribute and one binned
    * numeric attribute; event = order status 'F'.
    */
  private def binnedOrders(s: org.apache.spark.sql.SparkSession, dir: String) =
    Transformers.attributeBinning(tables(s, dir).orders, Seq("o_totalprice"), "equal_range", 10)

  private val ivAttrSqlBase = {
    val bin = binCaseSql("o_totalprice", "lo", "hi", 10)
    s"""
      WITH mm AS (SELECT CAST(min(o_totalprice) AS DOUBLE) AS lo,
                         CAST(max(o_totalprice) AS DOUBLE) AS hi FROM orders),
      base AS (
        SELECT 'o_orderpriority' AS attribute, o_orderpriority AS value,
               CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS evt
        FROM orders
        UNION ALL
        SELECT 'o_totalprice_binned', CAST($bin AS VARCHAR),
               CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END
        FROM orders, mm)"""
  }

  val qIv = Q(
    "q_iv_calculation",
    (s, dir) => Association.ivCalculation(binnedOrders(s, dir),
      Seq("o_orderpriority", "o_totalprice_binned"), col("o_orderstatus") === "F"),
    Some(ivAttrSqlBase + """,
      agg AS (SELECT attribute, value,
                count(CASE WHEN evt = 0 THEN 1 END) AS l0,
                count(CASE WHEN evt = 1 THEN 1 END) AS l1
              FROM base GROUP BY attribute, value),
      tot AS (SELECT *,
                CAST(sum(l0) OVER (PARTITION BY attribute) AS DOUBLE) AS t0,
                CAST(sum(l1) OVER (PARTITION BY attribute) AS DOUBLE) AS t1
              FROM agg)
      SELECT attribute,
        round(sum((l0 / t0 - l1 / t1) *
          CASE WHEN l0 > 0 AND l1 > 0 THEN ln((l0 / t0) / (l1 / t1))
               ELSE ln(((l0 + CAST(0.5 AS DOUBLE)) / t0) / ((l1 + CAST(0.5 AS DOUBLE)) / t1)) END), 4) AS iv
      FROM tot GROUP BY attribute"""))

  val qIg = Q(
    "q_ig_calculation",
    (s, dir) => Association.igCalculation(binnedOrders(s, dir),
      Seq("o_orderpriority", "o_totalprice_binned"), col("o_orderstatus") === "F"),
    Some(ivAttrSqlBase + """,
      agg AS (SELECT attribute, value,
                CAST(sum(evt) AS DOUBLE) AS event_count,
                CAST(count(*) AS DOUBLE) AS total_count
              FROM base GROUP BY attribute, value),
      w AS (SELECT *,
              event_count / total_count AS event_pct,
              total_count / sum(total_count) OVER (PARTITION BY attribute) AS segment_pct,
              sum(event_count) OVER (PARTITION BY attribute) /
                sum(total_count) OVER (PARTITION BY attribute) AS total_event
            FROM agg),
      e AS (SELECT *,
              CASE WHEN event_pct = 0 OR event_pct = 1 THEN 0.0
                   ELSE -segment_pct * (event_pct * log2(event_pct)
                        + (1 - event_pct) * log2(1 - event_pct)) END AS entropy,
              CASE WHEN total_event = 0 OR total_event = 1 THEN 0.0
                   ELSE -(total_event * log2(total_event)
                        + (1 - total_event) * log2(1 - total_event)) END AS total_entropy
            FROM w)
      SELECT attribute, round(any_value(total_entropy) - sum(entropy), 4) AS ig
      FROM e GROUP BY attribute"""))

  /** Feature stability ESTIMATION (ref stability.py:335-589): propagate
    * per-week base-attribute moments through the derived-feature formula
    * `value * k` by central differences, then CV → SI score. The oracle
    * replays the identical probe/gradient arithmetic in SQL; both
    * engines snap the propagated per-period moments to a 1e-6 grid
    * before the CV so upstream avg/stddev summation-order ulps cannot
    * leak into the rounded outputs.
    */
  val qFeatureStability = Q(
    "q_feature_stability",
    (s, dir) => {
      val e = tables(s, dir).events
        .withColumn("week", date_trunc("week", col("ts")))
        .withColumn("k", get_json_object(col("props"), "$.k").cast("double"))
      val rows = e.groupBy(col("week"))
        .agg(avg(col("value")).as("mv"), stddev_samp(col("value")).as("sv"),
          avg(col("k")).as("mk"), stddev_samp(col("k")).as("sk"))
        .orderBy(col("week")).collect()
      val periodStats = rows.toSeq.map(r => Map(
        "value" -> graft.operators.StabilityEstimation.AttrStats(r.getDouble(1), r.getDouble(2)),
        "k" -> graft.operators.StabilityEstimation.AttrStats(r.getDouble(3), r.getDouble(4))))
      graft.operators.StabilityEstimation.featureStabilityEstimation(s, "value * k", periodStats)
    },
    Some("""
      WITH ev AS (
        SELECT date_trunc('week', ts) AS w, CAST(value AS DOUBLE) AS value,
               TRY_CAST(NULLIF(regexp_extract(props, '"k": (\d+)', 1), '') AS DOUBLE) AS k
        FROM events),
      ps AS (SELECT w, avg(value) AS mv, stddev_samp(value) AS sv,
                    avg(k) AS mk, stddev_samp(k) AS sk
             FROM ev GROUP BY w),
      g AS (SELECT *,
              greatest(1e-6, abs(mk) * 1e-4) AS hk,
              greatest(1e-6, abs(mv) * 1e-4) AS hv
            FROM ps),
      gr AS (SELECT w, sv, sk,
               mv * mk AS f0,
               ((mv * (mk + hk)) - (mv * (mk - hk))) / (2 * hk) AS gk,
               (((mv + hv) * mk) - ((mv - hv) * mk)) / (2 * hv) AS gv
             FROM g),
      -- variance terms in sorted-attribute order (k, then value), same
      -- left-assoc grouping as the engine: ((g*g)*sd)*sd
      f AS (SELECT w,
              round(f0 * 1e6) / 1e6 AS f0r,
              round(sqrt((((gk * gk) * sk) * sk) + (((gv * gv) * sv) * sv)) * 1e6) / 1e6 AS fsdr
            FROM gr),
      cv AS (SELECT
               round(abs(stddev_samp(f0r) / avg(f0r)), 4) AS cv_mean,
               round(abs(stddev_samp(fsdr) / avg(fsdr)), 4) AS cv_stddev
             FROM f),
      si AS (SELECT *,
               CASE WHEN cv_mean < 0.03 THEN 4 WHEN cv_mean < 0.1 THEN 3
                    WHEN cv_mean < 0.2 THEN 2 WHEN cv_mean < 0.5 THEN 1 ELSE 0 END AS mean_si,
               CASE WHEN cv_stddev < 0.03 THEN 4 WHEN cv_stddev < 0.1 THEN 3
                    WHEN cv_stddev < 0.2 THEN 2 WHEN cv_stddev < 0.5 THEN 1 ELSE 0 END AS stddev_si
             FROM cv)
      SELECT 'value * k' AS formula, cv_mean, cv_stddev, mean_si, stddev_si,
             CAST(0.5 AS DOUBLE) * mean_si + CAST(0.5 AS DOUBLE) * stddev_si
               AS stability_index_lower_bound
      FROM si"""))

  /** Fixed-iteration PageRank over the customer↔supplier order graph
    * (symmetric edges so no mass dangles) — the domain-authority
    * centrality web-corpus pipelines rank hosts with. 5 synchronous
    * sweeps; the oracle unrolls the SAME sweeps as CTEs, so every
    * node's rank must match to 9 decimals (float-sum reorder noise is
    * ~1e-17 relative — far below the grid).
    */
  val qPageRank = Q(
    "q_pagerank",
    (s, dir) => {
      val t = tables(s, dir)
      val edges = t.lineitem.filter(col("l_orderkey") % 10 === 0)
        .join(t.orders, col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("src"),
          (col("l_suppkey") + lit(10000000L)).as("dst"))
      val und = edges.unionByName(
        edges.select(col("dst").as("src"), col("src").as("dst")))
      graft.functions.Graph.pageRank(und, iterations = 5)
        .select(col("node"), round(col("rank"), 9).as("rank"))
    },
    Some {
      def sweep(i: Int, prev: String): String =
        s"""r$i AS (
           SELECT nodes.node,
             (CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / nn.n
               + CAST(0.85 AS DOUBLE) * COALESCE(s.s, CAST(0 AS DOUBLE)) AS rank
           FROM nodes CROSS JOIN nn
           LEFT JOIN (
             SELECT und.dst AS node, sum(p.rank / deg.outdeg) AS s
             FROM und JOIN $prev p ON und.src = p.node
                      JOIN deg ON und.src = deg.src
             GROUP BY und.dst) s ON nodes.node = s.node)"""
      val sweeps = (1 to 5).map(i => sweep(i, if (i == 1) "r0" else s"r${i - 1}"))
        .mkString(",\n")
      s"""
      WITH e AS (SELECT o_custkey AS src, l_suppkey + 10000000 AS dst
                 FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                 WHERE l_orderkey % 10 = 0),
      und AS (SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e),
      deg AS (SELECT src, count(*) AS outdeg FROM und GROUP BY src),
      nodes AS (SELECT DISTINCT node FROM
        (SELECT src AS node FROM und UNION ALL SELECT dst FROM und)),
      nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
      r0 AS (SELECT node, CAST(1 AS DOUBLE) / nn.n AS rank
             FROM nodes CROSS JOIN nn),
      $sweeps
      SELECT node, round(rank, 9) AS rank FROM r5"""
    })

  /** Per-node triangle counts over the supplier co-occurrence graph
    * (suppliers sharing an order) — exact integers, each triangle found
    * once by the canonical a<b<c two-hop join.
    */
  val qTriangles = Q(
    "q_triangle_count",
    (s, dir) => {
      val li = tables(s, dir).lineitem.filter(col("l_orderkey") % 20 === 0)
        .select(col("l_orderkey").as("ok"), col("l_suppkey").as("sk"))
      val pairs = li.as("x").join(li.as("y"),
          col("x.ok") === col("y.ok") && col("x.sk") < col("y.sk"))
        .select(col("x.sk").as("src"), col("y.sk").as("dst"))
      graft.functions.Graph.triangleCounts(pairs)
    },
    Some("""
      WITH li AS (SELECT l_orderkey AS ok, l_suppkey AS sk FROM lineitem
                  WHERE l_orderkey % 20 = 0),
      e AS (SELECT DISTINCT x.sk AS lo, y.sk AS hi
            FROM li x JOIN li y ON x.ok = y.ok AND x.sk < y.sk),
      tri AS (SELECT ab.lo AS a, ab.hi AS b, bc.hi AS c
              FROM e ab JOIN e bc ON ab.hi = bc.lo
                        JOIN e ac ON ac.lo = ab.lo AND ac.hi = bc.hi),
      corners AS (SELECT a AS node FROM tri
                  UNION ALL SELECT b FROM tri
                  UNION ALL SELECT c FROM tri)
      SELECT node, count(*) AS triangles FROM corners GROUP BY node"""))

  /** Fixed-iteration HITS over the DIRECTED customer→supplier purchase
    * graph (buyers are hubs, suppliers are authorities). Max-normalized
    * per half-sweep (scalar-equivalent to the L2 textbook form — see
    * [[graft.functions.Graph.hits]]); the oracle unrolls the SAME five
    * sweeps as CTEs, so every score matches at 9 decimals.
    */
  val qHits = Q(
    "q_hits",
    (s, dir) => {
      val t = tables(s, dir)
      val edges = t.lineitem.filter(col("l_orderkey") % 10 === 0)
        .join(t.orders, col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("src"),
          (col("l_suppkey") + lit(10000000L)).as("dst"))
      // rescaleEvery pinned: the oracle below hardcodes the same
      // i % 2 == 0 barrier schedule — a retuned engine default must not
      // silently diverge the replay
      graft.functions.Graph.hits(edges, iterations = 5, rescaleEvery = 2)
        .select(col("node"), round(col("auth"), 9).as("auth"),
          round(col("hub"), 9).as("hub"))
    },
    Some {
      // one half-sweep: raw in/out-score sums over the edges; at rescale
      // barriers (sweep % 2 == 0 or the last sweep, the engine's
      // schedule) divide by the step max (guarded like the engine:
      // max<=0 -> divide by 1). The hub half-sweep reads the RAW auth
      // CTE (a{i}r, column r) — the engine fetches both barrier maxima
      // in one job, so auth is only scaled AFTER the hub sweep consumed
      // it; same vectors by linearity, but the fp rounding is this
      // exact schedule's
      def half(out: String, prev: String, prevCol: String,
          joinKey: String, outKey: String, outCol: String,
          barrier: Boolean): String = {
        val raw =
          s"""${out}r AS MATERIALIZED (
             SELECT nodes.node, COALESCE(s.s, CAST(0 AS DOUBLE)) AS r
             FROM nodes LEFT JOIN (
               SELECT e.$outKey AS node, sum(p.$prevCol) AS s
               FROM e JOIN $prev p ON e.$joinKey = p.node
               GROUP BY e.$outKey) s ON nodes.node = s.node)"""
        val scaled =
          if (barrier)
            s"""$out AS MATERIALIZED (
               SELECT r.node,
                 r.r / (CASE WHEN m.m > 0 THEN m.m ELSE CAST(1 AS DOUBLE) END)
                   AS $outCol
               FROM ${out}r r, (SELECT max(r) AS m FROM ${out}r) m)"""
          else
            s"""$out AS MATERIALIZED (
               SELECT node, r AS $outCol FROM ${out}r)"""
        raw + ",\n" + scaled
      }
      val iters = 5
      val sweeps = (1 to iters).map { i =>
        val barrier = i % 2 == 0 || i == iters
        half(s"a$i", if (i == 1) "h0" else s"h${i - 1}", "hub", "src", "dst",
          "auth", barrier) +
          ",\n" + half(s"h$i", s"a${i}r", "r", "dst", "src", "hub", barrier)
      }.mkString(",\n")
      s"""
      WITH e AS MATERIALIZED (
        SELECT o_custkey AS src, l_suppkey + 10000000 AS dst
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE l_orderkey % 10 = 0),
      nodes AS MATERIALIZED (SELECT DISTINCT node FROM
        (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
      h0 AS MATERIALIZED (SELECT node, CAST(1 AS DOUBLE) AS hub FROM nodes),
      $sweeps
      SELECT a5.node, round(a5.auth, 9) AS auth, round(h5.hub, 9) AS hub
      FROM a5 JOIN h5 ON a5.node = h5.node"""
    })

  /** Fixed-round k-core peeling over the supplier co-occurrence graph
    * (the q_triangle_count edge set): 5 synchronous rounds dropping
    * degree-< k nodes and their edges, exact integers. The oracle
    * unrolls the SAME rounds as MATERIALIZED CTEs.
    */
  val qKCore = Q(
    "q_kcore",
    (s, dir) => {
      val li = tables(s, dir).lineitem.filter(col("l_orderkey") % 20 === 0)
        .select(col("l_orderkey").as("ok"), col("l_suppkey").as("sk"))
      val pairs = li.as("x").join(li.as("y"),
          col("x.ok") === col("y.ok") && col("x.sk") < col("y.sk"))
        .select(col("x.sk").as("src"), col("y.sk").as("dst"))
      // k and rounds pinned beside the oracle that hardcodes them
      graft.functions.Graph.kCore(pairs, k = 3, rounds = 5)
    },
    Some {
      val k = 3
      def round(r: Int): String = {
        val prev = if (r == 1) "e0" else s"e${r - 1}"
        s"""a$r AS MATERIALIZED (
           SELECT node FROM (
             SELECT node, count(*) AS deg FROM (
               SELECT lo AS node FROM $prev
               UNION ALL SELECT hi FROM $prev) GROUP BY node)
           WHERE deg >= $k),
        e$r AS MATERIALIZED (
           SELECT e.lo, e.hi FROM $prev e
           JOIN a$r x ON e.lo = x.node
           JOIN a$r y ON e.hi = y.node)"""
      }
      val rounds = (1 to 5).map(round).mkString(",\n")
      s"""
      WITH li AS MATERIALIZED (
        SELECT l_orderkey AS ok, l_suppkey AS sk FROM lineitem
        WHERE l_orderkey % 20 = 0),
      e0 AS MATERIALIZED (
        SELECT DISTINCT x.sk AS lo, y.sk AS hi
        FROM li x JOIN li y ON x.ok = y.ok AND x.sk < y.sk),
      $rounds
      SELECT node, count(*) AS core_degree FROM (
        SELECT lo AS node FROM e5 UNION ALL SELECT hi FROM e5)
      GROUP BY node"""
    })

  /** Fixed-round connected components over the sparsified
    * customer↔supplier purchase graph — min-label propagation with
    * pointer jumping ([[graft.functions.Graph.connectedComponents]]);
    * the oracle unrolls the SAME propagate+jump rounds as MATERIALIZED
    * CTEs. Exact integer labels.
    */
  /** Shared CC oracle: the l_orderkey % 40 customer↔supplier edge set
    * through 5 unrolled propagate+jump rounds — the SAME SQL verifies
    * both the direct op (q_connected_components) and the YAML
    * graph_metrics stage (q_workflow_graph), which must be
    * hash-identical by construction.
    */
  private def ccOracleSql: String = {
    def round(r: Int): String = {
      val prev = if (r == 1) "l0" else s"l${r - 1}"
      s"""n$r AS MATERIALIZED (
         SELECT a.u AS node, min(l.comp) AS nbr
         FROM adj a JOIN $prev l ON l.node = a.v GROUP BY a.u),
      p$r AS MATERIALIZED (
         SELECT l.node, least(l.comp, coalesce(n.nbr, l.comp)) AS comp
         FROM $prev l LEFT JOIN n$r n ON n.node = l.node),
      l$r AS MATERIALIZED (
         SELECT p.node, coalesce(q.comp, p.comp) AS comp
         FROM p$r p LEFT JOIN p$r q ON q.node = p.comp)"""
    }
    val rounds = (1 to 5).map(round).mkString(",\n")
    s"""
    WITH raw AS MATERIALIZED (
      SELECT o_custkey AS src, l_suppkey + 10000000 AS dst
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE l_orderkey % 40 = 0),
    e0 AS MATERIALIZED (
      SELECT DISTINCT least(src, dst) AS lo, greatest(src, dst) AS hi
      FROM raw WHERE src <> dst),
    adj AS MATERIALIZED (
      SELECT lo AS u, hi AS v FROM e0
      UNION ALL SELECT hi, lo FROM e0),
    l0 AS MATERIALIZED (
      SELECT DISTINCT u AS node, u AS comp FROM adj),
    $rounds
    SELECT node, comp FROM l5"""
  }

  private def ccEdges(s: org.apache.spark.sql.SparkSession, dir: String) = {
    val t = tables(s, dir)
    t.lineitem.filter(col("l_orderkey") % 40 === 0)
      .join(t.orders, col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("src"),
        (col("l_suppkey") + lit(10000000L)).as("dst"))
  }

  val qComponents = Q(
    "q_connected_components",
    // rounds pinned beside the oracle that hardcodes them
    (s, dir) => graft.functions.Graph.connectedComponents(ccEdges(s, dir), rounds = 5),
    Some(ccOracleSql))

  /** The graph_metrics YAML stage end-to-end: edges land in a scratch
    * parquet, the workflow reads them via edges_path and runs the
    * connected_components arm — the stage's output must hash-match the
    * SAME DuckDB oracle as the direct op, proving the YAML plumbing
    * (config parse, edge load, arm dispatch) changes nothing.
    */
  val qWorkflowGraph = Q(
    "q_workflow_graph",
    (s, dir) => {
      // per-invocation scratch dir: a fixed shared path would let a
      // concurrent harness (bench + verify, or two users) overwrite the
      // edges while this run's lazily-evaluated metrics frame still
      // reads them
      val scratch = java.nio.file.Files
        .createTempDirectory("graft_q_workflow_graph").toString
      ccEdges(s, dir).write.mode("overwrite").parquet(s"$scratch/edges")
      val yaml = s"""input_dataset:
                    |  read_dataset:
                    |    file_path: "$scratch/edges"
                    |    file_type: parquet
                    |graph_metrics:
                    |  edges_path: "$scratch/edges"
                    |  connected_components:
                    |    rounds: 5
                    |""".stripMargin
      val (_, stages) = graft.workflow.Workflow.run(s, yaml)
      val metrics = stages.find(_.name == "graph_metrics").get
        .metrics("connected_components")
        // node-sized; materializing it here unpins the scratch files so
        // the tree can be deleted EAGERLY below — the former deleteOnExit
        // registration leaked one JVM-global entry per file forever and
        // held the dumps until exit in long-lived drivers (r19 verdict)
        .localCheckpoint()
      locally {
        import scala.jdk.CollectionConverters._
        val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(scratch))
        try walk.iterator().asScala.toSeq.reverse.foreach(p =>
          java.nio.file.Files.deleteIfExists(p))
        finally walk.close()
      }
      metrics
    },
    Some(ccOracleSql))

  /** Exact truncated harmonic centrality (radius 2) over the sparsified
    * customer↔supplier graph — layered multi-source BFS with exact
    * per-layer counts and a fixed-order harmonic fold
    * ([[graft.functions.Graph.harmonicCentrality]]; the HyperBall
    * approximation is its spec-gated scale sibling). The oracle unrolls
    * the SAME BFS layers as CTEs (frontier = candidates EXCEPT reached).
    */
  val qHarmonic = Q(
    "q_harmonic_centrality",
    (s, dir) => {
      val t = tables(s, dir)
      val edges = t.lineitem.filter(col("l_orderkey") % 50 === 0)
        .join(t.orders, col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("src"),
          (col("l_suppkey") + lit(10000000L)).as("dst"))
      // radius pinned beside the oracle that hardcodes both layers
      graft.functions.Graph.harmonicCentrality(edges, radius = 2)
    },
    Some("""
      WITH raw AS MATERIALIZED (
        SELECT o_custkey AS src, l_suppkey + 10000000 AS dst
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE l_orderkey % 50 = 0),
      e0 AS MATERIALIZED (
        SELECT DISTINCT least(src, dst) AS lo, greatest(src, dst) AS hi
        FROM raw WHERE src <> dst),
      adj AS MATERIALIZED (
        SELECT lo AS u, hi AS v FROM e0 UNION ALL SELECT hi, lo FROM e0),
      nodes AS MATERIALIZED (SELECT DISTINCT u AS node FROM adj),
      b0 AS MATERIALIZED (SELECT node, node AS peer FROM nodes),
      f1 AS MATERIALIZED (
        SELECT DISTINCT f.node, a.v AS peer FROM b0 f JOIN adj a ON a.u = f.peer
        EXCEPT SELECT node, peer FROM b0),
      r1 AS MATERIALIZED (
        SELECT node, peer FROM b0 UNION ALL SELECT node, peer FROM f1),
      f2 AS MATERIALIZED (
        SELECT DISTINCT f.node, a.v AS peer FROM f1 f JOIN adj a ON a.u = f.peer
        EXCEPT SELECT node, peer FROM r1),
      lc AS MATERIALIZED (
        SELECT node, 1 AS d, count(*) AS cnt FROM f1 GROUP BY node
        UNION ALL SELECT node, 2, count(*) FROM f2 GROUP BY node)
      SELECT n.node,
        CAST(coalesce(s.reached, 0) AS BIGINT) AS reached,
        coalesce(s.harmonic, CAST(0 AS DOUBLE)) AS harmonic
      FROM nodes n LEFT JOIN (
        SELECT node, sum(cnt) AS reached,
          round(CAST(coalesce(max(CASE WHEN d = 1 THEN cnt END), 0) AS DOUBLE) / 1.0
              + CAST(coalesce(max(CASE WHEN d = 2 THEN cnt END), 0) AS DOUBLE) / 2.0, 9)
            AS harmonic
        FROM lc GROUP BY node) s ON s.node = n.node"""))

  /** Fixed-round label-propagation communities over the supplier
    * co-occurrence graph (the q_kcore edge set) — synchronous LPA,
    * majority label with smallest-label ties
    * ([[graft.functions.Graph.labelPropagation]]); the oracle replays
    * each round as a count CTE + a max-count/min-label pair. Exact
    * integer labels.
    */
  val qLabelProp = Q(
    "q_label_propagation",
    (s, dir) => {
      val li = tables(s, dir).lineitem.filter(col("l_orderkey") % 20 === 0)
        .select(col("l_orderkey").as("ok"), col("l_suppkey").as("sk"))
      val pairs = li.as("x").join(li.as("y"),
          col("x.ok") === col("y.ok") && col("x.sk") < col("y.sk"))
        .select(col("x.sk").as("src"), col("y.sk").as("dst"))
      // rounds pinned beside the oracle that hardcodes them
      graft.functions.Graph.labelPropagation(pairs, rounds = 3)
    },
    Some {
      def round(r: Int): String = {
        val prev = if (r == 1) "l0" else s"l${r - 1}"
        s"""c$r AS MATERIALIZED (
           SELECT a.u AS node, l.label AS nl, count(*) AS c
           FROM adj a JOIN $prev l ON l.node = a.v GROUP BY a.u, l.label),
        m$r AS MATERIALIZED (
           SELECT node, max(c) AS mc FROM c$r GROUP BY node),
        l$r AS MATERIALIZED (
           SELECT c.node, min(c.nl) AS label
           FROM c$r c JOIN m$r m ON m.node = c.node AND c.c = m.mc
           GROUP BY c.node)"""
      }
      val rounds = (1 to 3).map(round).mkString(",\n")
      s"""
      WITH li AS MATERIALIZED (
        SELECT l_orderkey AS ok, l_suppkey AS sk FROM lineitem
        WHERE l_orderkey % 20 = 0),
      e0 AS MATERIALIZED (
        SELECT DISTINCT x.sk AS lo, y.sk AS hi
        FROM li x JOIN li y ON x.ok = y.ok AND x.sk < y.sk),
      adj AS MATERIALIZED (
        SELECT lo AS u, hi AS v FROM e0 UNION ALL SELECT hi, lo FROM e0),
      l0 AS MATERIALIZED (SELECT DISTINCT u AS node, u AS label FROM adj),
      $rounds
      SELECT node, label FROM l3"""
    })

  /** Deterministic one-level Louvain over the supplier co-occurrence
    * graph ([[graft.functions.Graph.louvainCommunities]]): synchronous
    * fixed-round modularity moves with the exact-integer score
    * `2m·kiin − k·Σtot'` — no float grid anywhere, so the oracle
    * replays each round's community weights, neighbor-community counts,
    * scored candidates, and the (score desc, stay-first, smallest-id)
    * argmax as unrolled CTEs.
    */
  private def louvainEdges(s: org.apache.spark.sql.SparkSession, dir: String) = {
    // %40 sparsification (the harmonic-centrality precedent): the %20
    // supplier co-occurrence graph is near-dense on ~1k suppliers, and
    // the community fixtures only need a representative structure
    val li = tables(s, dir).lineitem.filter(col("l_orderkey") % 40 === 0)
      .select(col("l_orderkey").as("ok"), col("l_suppkey").as("sk"))
    li.as("x").join(li.as("y"),
        col("x.ok") === col("y.ok") && col("x.sk") < col("y.sk"))
      .select(col("x.sk").as("src"), col("y.sk").as("dst"))
  }

  /** Shared louvain-oracle CTE chain (li → e0/adj/mm/lvdeg → lv0 → all
    * unrolled parity-alternating rounds, ending in lv<rounds>).
    */
  private def louvainCtesSql(nRounds: Int): String = {
      def round(r: Int): String = {
        val prev = s"lv${r - 1}"
        s"""lvs$r AS MATERIALIZED (
           SELECT l.c AS c, CAST(sum(d.k) AS BIGINT) AS st
           FROM $prev l JOIN lvdeg d ON d.node = l.node GROUP BY l.c),
        lvk$r AS MATERIALIZED (
           SELECT a.u AS u, l.c AS cv, CAST(count(*) AS BIGINT) AS kin
           FROM adj a JOIN $prev l ON l.node = a.v GROUP BY 1, 2),
        lvt$r AS MATERIALIZED (
           SELECT u, cv, CAST(max(kin) AS BIGINT) AS kin FROM (
             SELECT u, cv, kin FROM lvk$r
             UNION ALL SELECT node AS u, c AS cv, 0 AS kin FROM $prev)
           GROUP BY 1, 2),
        lvx$r AS MATERIALIZED (
           SELECT t.u, t.cv,
             2 * mm.m * t.kin -
               d.k * (s.st - CASE WHEN t.cv = o.c THEN d.k ELSE 0 END) AS score,
             o.c AS own
           FROM lvt$r t
           JOIN lvs$r s ON s.c = t.cv
           JOIN lvdeg d ON d.node = t.u
           JOIN $prev o ON o.node = t.u
           CROSS JOIN mm
           -- sign-stable parity: DuckDB's % is sign-preserving (negative
           -- odd ids give -1), the engine uses pmod — normalize here so
           -- the two agree even on graphs with negative node ids
           WHERE ((t.u % 2) + 2) % 2 = ${r % 2}),
        lv$r AS MATERIALIZED (
           SELECT u AS node, cv AS c FROM (
             SELECT u, cv, row_number() OVER (PARTITION BY u
               ORDER BY score DESC, CASE WHEN cv = own THEN 0 ELSE 1 END, cv) AS rn
             FROM lvx$r) t WHERE rn = 1
           UNION ALL
           SELECT node, c FROM $prev WHERE ((node % 2) + 2) % 2 <> ${r % 2})"""
      }
      val rounds = (1 to nRounds).map(round).mkString(",\n")
      s"""li AS MATERIALIZED (
        SELECT l_orderkey AS ok, l_suppkey AS sk FROM lineitem
        WHERE l_orderkey % 40 = 0),
      e0 AS MATERIALIZED (
        SELECT DISTINCT x.sk AS lo, y.sk AS hi
        FROM li x JOIN li y ON x.ok = y.ok AND x.sk < y.sk),
      adj AS MATERIALIZED (
        SELECT lo AS u, hi AS v FROM e0 UNION ALL SELECT hi, lo FROM e0),
      mm AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS m FROM e0),
      lvdeg AS MATERIALIZED (
        SELECT u AS node, CAST(count(*) AS BIGINT) AS k FROM adj GROUP BY u),
      lv0 AS MATERIALIZED (SELECT DISTINCT u AS node, u AS c FROM adj),
      $rounds"""
  }

  /** One Louvain fit per (session, scale dir): the assignment is a pure
    * function of the edges, so q_louvain_communities and q_modularity
    * share one run — the bpeMergesMemo idiom (honest-bench caveat: the
    * first of the two rows to run pays the 3-round fit; the memo holds
    * a node-sized checkpointed frame).
    */
  private val louvainMemo =
    new java.util.concurrent.ConcurrentHashMap[String, Array[(Long, Long)]]()
  // the memo holds the COLLECTED node-sized assignment (a pure function
  // of the dir's edges), not a checkpointed frame: a bench harness's
  // per-query unpersist hygiene frees checkpoint blocks between queries,
  // and a truncated-lineage frame cannot be recomputed — the driver rows
  // survive any cache sweep and any session
  private def louvainFitted(s: org.apache.spark.sql.SparkSession, dir: String) = {
    val rows = louvainMemo.computeIfAbsent(dir, _ =>
      graft.functions.Graph.louvainCommunities(louvainEdges(s, dir), rounds = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1))))
    import s.implicits._
    rows.toSeq.toDF("node", "community")
  }
  /** Growth-gate hook (the clearTokenizerMemos contract): TriScale must
    * time the cold fit per tier, not a memo hit.
    */
  private[graft] def clearGraphMemos(): Unit = louvainMemo.clear()

  /** Deterministic one-level Louvain over the supplier co-occurrence
    * graph ([[graft.functions.Graph.louvainCommunities]]): synchronous
    * fixed-round modularity moves with the exact-integer score
    * `2m·kiin − k·Σtot'`, half-graph parity alternation — no float grid
    * anywhere, so the oracle replays every round as unrolled CTEs.
    */
  val qLouvain = Q(
    "q_louvain_communities",
    // rounds pinned beside the oracle that hardcodes them
    (s, dir) => louvainFitted(s, dir),
    Some(s"""
      WITH ${louvainCtesSql(3)}
      SELECT node, c AS community FROM lv3"""))

  /** Modularity of the q_louvain_communities assignment
    * ([[graft.functions.Graph.modularity]]) — exact BIGINT aggregates
    * (m, intra edges, ΣΣtot²) and a fixed IEEE double chain for the
    * ratio, so the single output row hash-matches the replay of the
    * same louvain chain plus three aggregate CTEs.
    */
  val qModularity = Q(
    "q_modularity",
    (s, dir) => graft.functions.Graph.modularity(
      louvainEdges(s, dir), louvainFitted(s, dir)),
    Some(s"""
      WITH ${louvainCtesSql(3)},
      ein AS MATERIALIZED (
        SELECT CAST(count(*) AS BIGINT) AS ein
        FROM e0 JOIN lv3 a ON a.node = e0.lo JOIN lv3 b ON b.node = e0.hi
        WHERE a.c = b.c),
      st2 AS MATERIALIZED (
        SELECT CAST(sum(st * st) AS BIGINT) AS st2 FROM (
          SELECT CAST(sum(d.k) AS BIGINT) AS st
          FROM lv3 l JOIN lvdeg d ON d.node = l.node GROUP BY l.c) t)
      SELECT mm.m AS m, ein.ein AS intra_edges,
        round((4.0 * CAST(mm.m AS DOUBLE) * CAST(ein.ein AS DOUBLE)
               - CAST(st2.st2 AS DOUBLE))
              / (4.0 * CAST(mm.m AS DOUBLE) * CAST(mm.m AS DOUBLE)), 9) AS q
      FROM mm CROSS JOIN ein CROSS JOIN st2"""))

  /** One-row structural profile of the co-occurrence graph
    * ([[graft.functions.Graph.graphSummary]]): size, degree stats,
    * degree assortativity, triangles, global clustering — exact BIGINT
    * aggregates, IEEE double ratios, so the single row hash-matches.
    */
  val qGraphSummary = Q(
    "q_graph_summary",
    (s, dir) => graft.functions.Graph.graphSummary(louvainEdges(s, dir)),
    Some("""
      WITH li AS MATERIALIZED (
        SELECT l_orderkey AS ok, l_suppkey AS sk FROM lineitem
        WHERE l_orderkey % 40 = 0),
      e0 AS MATERIALIZED (
        SELECT DISTINCT x.sk AS lo, y.sk AS hi
        FROM li x JOIN li y ON x.ok = y.ok AND x.sk < y.sk),
      adj AS MATERIALIZED (
        SELECT lo AS u, hi AS v FROM e0 UNION ALL SELECT hi, lo FROM e0),
      deg AS MATERIALIZED (
        SELECT u AS node, CAST(count(*) AS BIGINT) AS k FROM adj GROUP BY u),
      ds AS (SELECT CAST(count(*) AS BIGINT) AS nodes,
                    CAST(max(k) AS BIGINT) AS max_degree,
                    CAST(sum(k) AS BIGINT) AS sk,
                    CAST(sum(k * k) AS BIGINT) AS sk2,
                    CAST(sum(k * k * k) AS BIGINT) AS sk3,
                    CAST(sum(k * (k - 1) // 2) AS BIGINT) AS wedges
             FROM deg),
      sxy AS (SELECT CAST(sum(dx.k * dy.k) AS BIGINT) AS sxy
              FROM adj a JOIN deg dx ON dx.node = a.u
                         JOIN deg dy ON dy.node = a.v),
      tri AS (SELECT CAST(count(*) AS BIGINT) AS tri
              FROM e0 ab JOIN e0 bc ON ab.hi = bc.lo
                         JOIN e0 ac ON ac.lo = ab.lo AND ac.hi = bc.hi),
      mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM e0)
      SELECT ds.nodes, mm.m AS edges, ds.max_degree,
        round(CAST(sk AS DOUBLE) / CAST(nodes AS DOUBLE), 9) AS avg_degree,
        round(CASE WHEN CAST(sk AS DOUBLE) * CAST(sk3 AS DOUBLE)
                        - CAST(sk2 AS DOUBLE) * CAST(sk2 AS DOUBLE) = 0 THEN NULL
          ELSE (CAST(sk AS DOUBLE) * CAST(sxy AS DOUBLE)
                - CAST(sk2 AS DOUBLE) * CAST(sk2 AS DOUBLE))
             / (CAST(sk AS DOUBLE) * CAST(sk3 AS DOUBLE)
                - CAST(sk2 AS DOUBLE) * CAST(sk2 AS DOUBLE)) END, 9)
          AS assortativity,
        tri.tri AS triangles,
        round(CASE WHEN wedges = 0 THEN NULL
          ELSE 3.0 * CAST(tri AS DOUBLE) / CAST(wedges AS DOUBLE) END, 9)
          AS clustering
      FROM ds CROSS JOIN mm CROSS JOIN sxy CROSS JOIN tri"""))

  /** Log2-binned degree histogram of the co-occurrence graph
    * ([[graft.functions.Graph.degreeHistogram]]): the power-law check —
    * bins are exact (binary-string length, no libm log2), counts exact
    * integers, so every row hash-matches.
    */
  val qDegreeHistogram = Q(
    "q_degree_histogram",
    (s, dir) => graft.functions.Graph.degreeHistogram(louvainEdges(s, dir)),
    Some("""
      WITH li AS MATERIALIZED (
        SELECT l_orderkey AS ok, l_suppkey AS sk FROM lineitem
        WHERE l_orderkey % 40 = 0),
      e0 AS MATERIALIZED (
        SELECT DISTINCT x.sk AS lo, y.sk AS hi
        FROM li x JOIN li y ON x.ok = y.ok AND x.sk < y.sk),
      adj AS (SELECT lo AS u, hi AS v FROM e0 UNION ALL SELECT hi, lo FROM e0),
      deg AS (SELECT u, CAST(count(*) AS BIGINT) AS k FROM adj GROUP BY u),
      binned AS (SELECT k, CAST(length(bin(k)) - 1 AS INT) AS bin FROM deg)
      SELECT bin, CAST(1 AS BIGINT) << bin AS lo_degree,
             CAST(count(*) AS BIGINT) AS n_nodes,
             CAST(min(k) AS BIGINT) AS min_degree,
             CAST(max(k) AS BIGINT) AS max_degree
      FROM binned GROUP BY bin ORDER BY bin"""))

  /** Deterministic degree-capped random walks over the supplier
    * co-occurrence graph ([[graft.functions.Graph.randomWalks]] — the
    * DeepWalk corpus-generation step): candidate sets are the 8
    * smallest salted-md5 neighbors per node, each step indexes them by
    * a walk-step hash. The oracle regenerates every hash with DuckDB's
    * md5 and replays all 3 steps — exact integers end to end.
    */
  private def walkEdges(s: org.apache.spark.sql.SparkSession, dir: String) = {
    val li = tables(s, dir).lineitem.filter(col("l_orderkey") % 20 === 0)
      .select(col("l_orderkey").as("ok"), col("l_suppkey").as("sk"))
    li.as("x").join(li.as("y"),
        col("x.ok") === col("y.ok") && col("x.sk") < col("y.sk"))
      .select(col("x.sk").as("src"), col("y.sk").as("dst"))
  }

  /** Shared walk-oracle CTE chain: the q_kcore edge set through the
    * capped-candidate build and all 3 hash-indexed steps, ending in a
    * `walks` CTE — consumed by q_random_walks directly and by
    * q_skipgram_pairs through the window self-join.
    */
  private def walkOracleCtes: String = {
    def h60(expr: String): String =
      s"('0x' || substr(md5($expr), 1, 15))::BIGINT"
    def step(t: Int): String = {
      val prev = if (t == 1) "f0" else s"f${t - 1}"
      val wh = h60(s"'walk:e0:' || CAST(f.start AS VARCHAR) || ':' || " +
        s"CAST(f.walk AS VARCHAR) || ':$t'")
      s"""f$t AS MATERIALIZED (
         SELECT f.start, f.walk, c.v AS node
         FROM $prev f
         JOIN ks ON ks.u = f.node
         JOIN cap c ON c.u = f.node AND c.r = ($wh % ks.k) + 1)"""
    }
    val steps = (1 to 3).map(step).mkString(",\n")
    val unions = (0 to 3)
      .map(t => s"SELECT start, walk, $t AS step, node FROM f$t")
      .mkString("\n        UNION ALL ")
    s"""li AS MATERIALIZED (
      SELECT l_orderkey AS ok, l_suppkey AS sk FROM lineitem
      WHERE l_orderkey % 20 = 0),
    e0 AS MATERIALIZED (
      SELECT DISTINCT x.sk AS lo, y.sk AS hi
      FROM li x JOIN li y ON x.ok = y.ok AND x.sk < y.sk),
    adj AS MATERIALIZED (
      SELECT lo AS u, hi AS v FROM e0 UNION ALL SELECT hi, lo FROM e0),
    adjh AS MATERIALIZED (
      SELECT u, v, ${h60("'nbr:e0:' || CAST(u AS VARCHAR) || ':' || CAST(v AS VARCHAR)")} AS h
      FROM adj),
    cap AS MATERIALIZED (
      SELECT u, v, r FROM (
        SELECT u, v, row_number() OVER (PARTITION BY u ORDER BY h, v) AS r
        FROM adjh)
      WHERE r <= 8),
    ks AS MATERIALIZED (SELECT u, max(r) AS k FROM cap GROUP BY u),
    f0 AS MATERIALIZED (
      SELECT n.u AS start, CAST(t.w AS BIGINT) AS walk, n.u AS node
      FROM (SELECT DISTINCT u FROM adj) n, (VALUES (0), (1)) t(w)),
    $steps,
    walks AS MATERIALIZED (
      $unions)"""
  }

  val qRandomWalks = Q(
    "q_random_walks",
    // knobs pinned beside the oracle that hardcodes them
    (s, dir) => graft.functions.Graph.randomWalks(walkEdges(s, dir),
      walkLength = 3, walksPerNode = 2, maxNeighbors = 8, salt = "e0"),
    Some(s"WITH $walkOracleCtes SELECT start, walk, step, node FROM walks"))

  /** Skip-gram (center, context) pair extraction from the q_random_walks
    * frame ([[graft.functions.Graph.skipGramPairs]], window 2) — the
    * word2vec-style training input; the oracle self-joins the shared
    * walks CTE.
    */
  val qSkipgramPairs = Q(
    "q_skipgram_pairs",
    (s, dir) => graft.functions.Graph.skipGramPairs(
      graft.functions.Graph.randomWalks(walkEdges(s, dir),
        walkLength = 3, walksPerNode = 2, maxNeighbors = 8, salt = "e0"),
      window = 2),
    Some(s"""
      WITH $walkOracleCtes
      SELECT a.node AS center, b.node AS context, count(*) AS n
      FROM walks a JOIN walks b
        ON a.start = b.start AND a.walk = b.walk
        AND a.step <> b.step AND abs(a.step - b.step) <= 2
      GROUP BY a.node, b.node"""))

  // ------------- r19: weighted graph family, PPR, multi-level Louvain

  /** Weighted-sweep oracle chain mirroring
    * [[graft.functions.Graph]]'s `louvainSweeps` over a canonical
    * weighted frame `$ce` (lo, hi, w — self-loops allowed): `${p}adj`
    * (non-self symmetric adjacency), `${p}deg` (weighted degree,
    * A_ii = 2w), `${p}m` (total weight), `${p}0` (singleton init) and
    * one parity-alternating round per CTE group. All BIGINT-exact;
    * parity sign-stable (DuckDB `%` is sign-preserving, the engine
    * uses pmod).
    */
  private def louvainWeightedCtesSql(ce: String, p: String, nRounds: Int): String = {
    def round(r: Int): String = {
      val prev = s"$p${r - 1}"
      s"""${p}s$r AS MATERIALIZED (
         SELECT l.c AS c, CAST(sum(d.k) AS BIGINT) AS st
         FROM $prev l JOIN ${p}deg d ON d.u = l.node GROUP BY l.c),
      ${p}k$r AS MATERIALIZED (
         SELECT a.u AS u, l.c AS cv, CAST(sum(a.w) AS BIGINT) AS kin
         FROM ${p}adj a JOIN $prev l ON l.node = a.v GROUP BY 1, 2),
      ${p}t$r AS MATERIALIZED (
         SELECT u, cv, CAST(max(kin) AS BIGINT) AS kin FROM (
           SELECT u, cv, kin FROM ${p}k$r
           UNION ALL SELECT node AS u, c AS cv, 0 AS kin FROM $prev)
         GROUP BY 1, 2),
      ${p}x$r AS MATERIALIZED (
         SELECT t.u, t.cv,
           2 * ${p}m.m * t.kin -
             d.k * (s.st - CASE WHEN t.cv = o.c THEN d.k ELSE 0 END) AS score,
           o.c AS own
         FROM ${p}t$r t
         JOIN ${p}s$r s ON s.c = t.cv
         JOIN ${p}deg d ON d.u = t.u
         JOIN $prev o ON o.node = t.u
         CROSS JOIN ${p}m
         WHERE ((t.u % 2) + 2) % 2 = ${r % 2}),
      $p$r AS MATERIALIZED (
         SELECT u AS node, cv AS c FROM (
           SELECT u, cv, row_number() OVER (PARTITION BY u
             ORDER BY score DESC, CASE WHEN cv = own THEN 0 ELSE 1 END, cv) AS rn
           FROM ${p}x$r) t WHERE rn = 1
         UNION ALL
         SELECT node, c FROM $prev WHERE ((node % 2) + 2) % 2 <> ${r % 2})"""
    }
    val rounds = (1 to nRounds).map(round).mkString(",\n")
    s"""${p}adj AS MATERIALIZED (
      SELECT lo AS u, hi AS v, w FROM $ce WHERE lo <> hi
      UNION ALL SELECT hi, lo, w FROM $ce WHERE lo <> hi),
    ${p}deg AS MATERIALIZED (
      SELECT u, CAST(sum(w) AS BIGINT) AS k FROM (
        SELECT u, w FROM ${p}adj
        UNION ALL SELECT lo AS u, 2 * w AS w FROM $ce WHERE lo = hi) t
      GROUP BY u),
    ${p}m AS MATERIALIZED (
      SELECT CAST(coalesce(sum(w), 0) AS BIGINT) AS m FROM $ce),
    ${p}0 AS MATERIALIZED (SELECT u AS node, u AS c FROM ${p}deg),
    $rounds"""
  }

  /** Weighted PageRank ([[graft.functions.Graph.pageRank]] with
    * `weightCol`) over the symmetric customer↔supplier purchase graph,
    * edge weight = line-item quantity (integral doubles, so the
    * per-node out-weight sums are exact and the oracle's replay of
    * rank·w/wout matches at the 9-decimal grid like q_pagerank).
    */
  val qPageRankWeighted = Q(
    "q_pagerank_weighted",
    (s, dir) => {
      val t = tables(s, dir)
      val edges = t.lineitem.filter(col("l_orderkey") % 25 === 0)
        .join(t.orders, col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("src"),
          (col("l_suppkey") + lit(10000000L)).as("dst"),
          col("l_quantity").cast("double").as("w"))
      val und = edges.unionByName(
        edges.select(col("dst").as("src"), col("src").as("dst"), col("w")))
      graft.functions.Graph.pageRank(und, iterations = 3, weightCol = "w")
        .select(col("node"), round(col("rank"), 9).as("rank"))
    },
    Some {
      def sweep(i: Int, prev: String): String =
        s"""r$i AS (
           SELECT nodes.node,
             (CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / nn.n
               + CAST(0.85 AS DOUBLE) * COALESCE(s.s, CAST(0 AS DOUBLE)) AS rank
           FROM nodes CROSS JOIN nn
           LEFT JOIN (
             SELECT und.dst AS node, sum(p.rank * und.w / deg.outdeg) AS s
             FROM und JOIN $prev p ON und.src = p.node
                      JOIN deg ON und.src = deg.src
             GROUP BY und.dst) s ON nodes.node = s.node)"""
      val sweeps = (1 to 3).map(i => sweep(i, if (i == 1) "r0" else s"r${i - 1}"))
        .mkString(",\n")
      s"""
      WITH e AS (SELECT o_custkey AS src, l_suppkey + 10000000 AS dst,
                        CAST(l_quantity AS DOUBLE) AS w
                 FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                 WHERE l_orderkey % 25 = 0),
      und AS (SELECT src, dst, w FROM e UNION ALL SELECT dst, src, w FROM e),
      deg AS (SELECT src, sum(w) AS outdeg FROM und GROUP BY src),
      nodes AS (SELECT DISTINCT node FROM
        (SELECT src AS node FROM und UNION ALL SELECT dst FROM und)),
      nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
      r0 AS (SELECT node, CAST(1 AS DOUBLE) / nn.n AS rank
             FROM nodes CROSS JOIN nn),
      $sweeps
      SELECT node, round(rank, 9) AS rank FROM r3"""
    })

  /** Personalized PageRank from a seed set
    * ([[graft.functions.Graph.personalizedPageRank]]) — teleport mass
    * restricted to every-10th supplier (the trusted-allowlist curation
    * trick: rank the whole purchase graph by proximity to the seeds).
    * The oracle replays r_0 = s and all 4 sweeps of
    * r_t = (1−d)·s + d·Σ rank/outdeg as CTEs.
    */
  val qPpr = Q(
    "q_ppr",
    (s, dir) => {
      val t = tables(s, dir)
      val edges = t.lineitem.filter(col("l_orderkey") % 25 === 0)
        .join(t.orders, col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("src"),
          (col("l_suppkey") + lit(10000000L)).as("dst"))
      val und = edges.unionByName(
        edges.select(col("dst").as("src"), col("src").as("dst")))
      val seeds = t.supplier.filter(col("s_suppkey") % 10 === 0)
        .select((col("s_suppkey") + lit(10000000L)).as("node"))
      graft.functions.Graph.personalizedPageRank(und, seeds, iterations = 4)
        .select(col("node"), round(col("rank"), 9).as("rank"))
    },
    Some {
      val seedMass =
        "CASE WHEN sd.node IS NOT NULL THEN CAST(1 AS DOUBLE) / ns.n ELSE CAST(0 AS DOUBLE) END"
      def sweep(i: Int, prev: String): String =
        s"""r$i AS (
           SELECT nodes.node,
             (CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE)) * $seedMass
               + CAST(0.85 AS DOUBLE) * COALESCE(s.s, CAST(0 AS DOUBLE)) AS rank
           FROM nodes CROSS JOIN ns
           LEFT JOIN seeds sd ON nodes.node = sd.node
           LEFT JOIN (
             SELECT und.dst AS node, sum(p.rank / deg.outdeg) AS s
             FROM und JOIN $prev p ON und.src = p.node
                      JOIN deg ON und.src = deg.src
             GROUP BY und.dst) s ON nodes.node = s.node)"""
      val sweeps = (1 to 4).map(i => sweep(i, if (i == 1) "r0" else s"r${i - 1}"))
        .mkString(",\n")
      s"""
      WITH e AS (SELECT o_custkey AS src, l_suppkey + 10000000 AS dst
                 FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                 WHERE l_orderkey % 25 = 0),
      und AS (SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e),
      deg AS (SELECT src, count(*) AS outdeg FROM und GROUP BY src),
      nodes AS (SELECT DISTINCT node FROM
        (SELECT src AS node FROM und UNION ALL SELECT dst FROM und)),
      seeds AS (SELECT DISTINCT s.node
                FROM (SELECT s_suppkey + 10000000 AS node FROM supplier
                      WHERE s_suppkey % 10 = 0) s
                JOIN nodes ON nodes.node = s.node),
      ns AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM seeds),
      r0 AS (SELECT nodes.node, $seedMass AS rank
             FROM nodes CROSS JOIN ns
             LEFT JOIN seeds sd ON nodes.node = sd.node),
      $sweeps
      SELECT node, round(rank, 9) AS rank FROM r4"""
    })

  /** WEIGHTED one-level Louvain ([[graft.functions.Graph
    * .louvainCommunities]] with `weightCol`) over the supplier
    * co-occurrence graph with shared-order multiplicity as the edge
    * weight — the textbook weighted gain, exact BIGINTs end to end, so
    * the oracle replays both rounds cell-exact.
    */
  val qLouvainWeighted = Q(
    "q_louvain_weighted",
    (s, dir) => {
      val li = tables(s, dir).lineitem.filter(col("l_orderkey") % 60 === 0)
        .select(col("l_orderkey").as("ok"), col("l_suppkey").as("sk"))
      val pairs = li.as("x").join(li.as("y"),
          col("x.ok") === col("y.ok") && col("x.sk") < col("y.sk"))
        .select(col("x.sk").as("src"), col("y.sk").as("dst"), lit(1L).as("w"))
      // canonicalization SUMS parallel weighted rows: w = the number of
      // orders the pair shares — multiplicity-as-weight
      graft.functions.Graph.louvainCommunities(pairs, rounds = 2, weightCol = "w")
    },
    Some(s"""
      WITH li2 AS MATERIALIZED (
        SELECT l_orderkey AS ok, l_suppkey AS sk FROM lineitem
        WHERE l_orderkey % 60 = 0),
      ce AS MATERIALIZED (
        SELECT x.sk AS lo, y.sk AS hi, CAST(count(*) AS BIGINT) AS w
        FROM li2 x JOIN li2 y ON x.ok = y.ok AND x.sk < y.sk GROUP BY 1, 2),
      ${louvainWeightedCtesSql("ce", "wv", 2)}
      SELECT node, c AS community FROM wv2"""))

  /** TWO-level Louvain (coarsen + re-optimize,
    * [[graft.functions.Graph.louvainRefine]]): the level-1 fit is the
    * SAME memoized 3-round assignment as q_louvain_communities; its
    * communities collapse to super-nodes (inter-community weights sum,
    * intra weight becomes a self-loop) and 2 more weighted rounds run
    * on the community graph. Equivalent to
    * `louvainMultiLevel(levels = 2)` at these round counts. The oracle
    * replays the full chain: 3 unit rounds → coarsen → 2 weighted
    * rounds → compose.
    */
  val qLouvainL2 = Q(
    "q_louvain_l2",
    (s, dir) => graft.functions.Graph.louvainRefine(
      louvainEdges(s, dir), louvainFitted(s, dir), rounds = 2),
    Some(s"""
      WITH ${louvainCtesSql(3)},
      ce2 AS MATERIALIZED (
        SELECT least(a.c, b.c) AS lo, greatest(a.c, b.c) AS hi,
               CAST(count(*) AS BIGINT) AS w
        FROM e0 JOIN lv3 a ON a.node = e0.lo JOIN lv3 b ON b.node = e0.hi
        GROUP BY 1, 2),
      ${louvainWeightedCtesSql("ce2", "mv", 2)}
      SELECT l.node, m.c AS community
      FROM lv3 l JOIN mv2 m ON m.node = l.c"""))

  /** Per-community structural profile of the q_louvain_communities
    * assignment ([[graft.functions.Graph.communityProfile]]): size,
    * internal/boundary weight, volume, conductance — the audit a
    * curation pipeline runs before per-community quotas. Exact BIGINTs
    * + one IEEE division, so every row hash-matches the replay of the
    * louvain chain plus the contribution roll-up.
    */
  val qCommunityProfile = Q(
    "q_community_profile",
    (s, dir) => graft.functions.Graph.communityProfile(
      louvainEdges(s, dir), louvainFitted(s, dir)),
    Some(s"""
      WITH ${louvainCtesSql(3)},
      lab AS MATERIALIZED (
        SELECT e0.lo, e0.hi, a.c AS clo, b.c AS chi
        FROM e0 JOIN lv3 a ON a.node = e0.lo JOIN lv3 b ON b.node = e0.hi),
      contrib AS (
        SELECT clo AS c,
               CASE WHEN clo = chi THEN 1 ELSE 0 END AS iw,
               CASE WHEN clo <> chi THEN 1 ELSE 0 END AS bw FROM lab
        UNION ALL SELECT chi, 0, 1 FROM lab WHERE clo <> chi),
      per AS (SELECT c, CAST(sum(iw) AS BIGINT) AS internal_w,
                     CAST(sum(bw) AS BIGINT) AS boundary_w
              FROM contrib GROUP BY c),
      nn2 AS (SELECT c, CAST(count(*) AS BIGINT) AS n_nodes FROM lv3 GROUP BY c),
      mm2 AS (SELECT CAST(count(*) AS BIGINT) AS m2 FROM lab)
      SELECT nn2.c AS community, nn2.n_nodes, per.internal_w, per.boundary_w,
        per.internal_w * 2 + per.boundary_w AS volume,
        round(CASE WHEN least(CAST(per.internal_w * 2 + per.boundary_w AS DOUBLE),
                     CAST(mm2.m2 * 2 - (per.internal_w * 2 + per.boundary_w) AS DOUBLE)) = 0
               THEN NULL
               ELSE CAST(per.boundary_w AS DOUBLE) /
                 least(CAST(per.internal_w * 2 + per.boundary_w AS DOUBLE),
                       CAST(mm2.m2 * 2 - (per.internal_w * 2 + per.boundary_w) AS DOUBLE))
               END, 9) AS conductance
      FROM nn2 JOIN per ON per.c = nn2.c CROSS JOIN mm2"""))

  /** Exact neighborhood function + effective diameter
    * ([[graft.functions.Graph.neighborhoodFunction]]) over the
    * q_harmonic bipartite fixture: N(d) pair totals for d = 0..2,
    * coverage fractions, and the smallest-d-covering-90% flag — the
    * HyperANF target quantity, exact and fully replayed (the approx
    * HyperANF form is spec-gated against this one).
    */
  val qEffectiveDiameter = Q(
    "q_effective_diameter",
    (s, dir) => {
      val t = tables(s, dir)
      val edges = t.lineitem.filter(col("l_orderkey") % 50 === 0)
        .join(t.orders, col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("src"),
          (col("l_suppkey") + lit(10000000L)).as("dst"))
      // radius/quantile pinned beside the oracle that hardcodes them
      graft.functions.Graph.neighborhoodFunction(edges, radius = 2, quantile = 0.9)
    },
    Some("""
      WITH raw AS MATERIALIZED (
        SELECT o_custkey AS src, l_suppkey + 10000000 AS dst
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE l_orderkey % 50 = 0),
      e0 AS MATERIALIZED (
        SELECT DISTINCT least(src, dst) AS lo, greatest(src, dst) AS hi
        FROM raw WHERE src <> dst),
      adj AS MATERIALIZED (
        SELECT lo AS u, hi AS v FROM e0 UNION ALL SELECT hi, lo FROM e0),
      nodes AS MATERIALIZED (SELECT DISTINCT u AS node FROM adj),
      b0 AS MATERIALIZED (SELECT node, node AS peer FROM nodes),
      f1 AS MATERIALIZED (
        SELECT DISTINCT f.node, a.v AS peer FROM b0 f JOIN adj a ON a.u = f.peer
        EXCEPT SELECT node, peer FROM b0),
      r1 AS MATERIALIZED (
        SELECT node, peer FROM b0 UNION ALL SELECT node, peer FROM f1),
      f2 AS MATERIALIZED (
        SELECT DISTINCT f.node, a.v AS peer FROM f1 f JOIN adj a ON a.u = f.peer
        EXCEPT SELECT node, peer FROM r1),
      tot AS (
        SELECT 0 AS d, (SELECT count(*) FROM b0) AS nf
        UNION ALL SELECT 1, (SELECT count(*) FROM b0) + (SELECT count(*) FROM f1)
        UNION ALL SELECT 2, (SELECT count(*) FROM b0) + (SELECT count(*) FROM f1)
                            + (SELECT count(*) FROM f2)),
      mx AS (SELECT CAST(max(nf) AS BIGINT) AS m FROM tot),
      eff AS (SELECT min(d) AS ed FROM tot CROSS JOIN mx
              WHERE CAST(nf AS DOUBLE) / CAST(m AS DOUBLE) >= 0.9)
      SELECT t.d, CAST(t.nf AS BIGINT) AS nf,
        round(CAST(t.nf AS DOUBLE) / CAST(mx.m AS DOUBLE), 9) AS coverage,
        t.d = eff.ed AS effective
      FROM tot t CROSS JOIN mx CROSS JOIN eff"""))

  /** Capped bipartite co-occurrence projection
    * ([[graft.functions.Graph.projectBipartite]]): order→supplier
    * membership becomes the weighted supplier co-occurrence graph, each
    * order contributing pairs only among its 8 smallest-salted-md5
    * suppliers — the hub-safe form of the raw self-join every
    * co-occurrence fixture uses. The oracle regenerates every hash with
    * DuckDB's md5 and replays the rank cut and pair count exactly.
    */
  val qBipartiteProjection = Q(
    "q_bipartite_projection",
    // cap/salt pinned beside the oracle that hardcodes them
    (s, dir) => graft.functions.Graph.projectBipartite(
      tables(s, dir).lineitem.filter(col("l_orderkey") % 30 === 0)
        .select(col("l_orderkey").as("ok"), col("l_suppkey").as("sk")),
      "ok", "sk", maxPerGroup = 8, salt = "bp"),
    Some {
      def h60(expr: String): String =
        s"('0x' || substr(md5($expr), 1, 15))::BIGINT"
      s"""
      WITH mem AS MATERIALIZED (
        SELECT DISTINCT l_orderkey AS l, l_suppkey AS r FROM lineitem
        WHERE l_orderkey % 30 = 0),
      memh AS MATERIALIZED (
        SELECT l, r,
          ${h60("'proj:bp:' || CAST(l AS VARCHAR) || ':' || CAST(r AS VARCHAR)")} AS h
        FROM mem),
      kept AS MATERIALIZED (
        SELECT l, r FROM (
          SELECT l, r, row_number() OVER (PARTITION BY l ORDER BY h, r) AS rn
          FROM memh)
        WHERE rn <= 8)
      SELECT a.r AS lo, b.r AS hi, CAST(count(*) AS BIGINT) AS w
      FROM kept a JOIN kept b ON a.l = b.l AND a.r < b.r
      GROUP BY 1, 2"""
    })

  def all: Seq[Q] = Seq(qCorrelation, qSpearman, qCatAssociation, qTheilsU, qCorrelationRatio, qDrift, qStability, qIv, qIg, qFeatureStability,
    qPageRank, qTriangles, qHits, qKCore, qComponents, qHarmonic, qLabelProp,
    qWorkflowGraph, qRandomWalks, qSkipgramPairs, qLouvain, qModularity,
    qGraphSummary, qDegreeHistogram,
    qPageRankWeighted, qPpr, qLouvainWeighted, qLouvainL2,
    qCommunityProfile, qEffectiveDiameter, qBipartiteProjection)
}
