package graft.queries

import graft.operators.StatsGenerator
import graft.queries.QueryPack._
import org.apache.spark.sql.functions._

/** Descriptive-stats operator queries (SURVEY.md §2.4). */
object StatsQueries {

  private val liNums = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
    "l_quantity", "l_extendedprice", "l_discount", "l_tax")
  private val custCols = Seq("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")

  val qGlobalSummary = Q(
    "q_global_summary",
    (s, dir) => StatsGenerator.globalSummary(tables(s, dir).lineitem),
    Some("""
      SELECT 'rows_count' AS metric, CAST(count(*) AS VARCHAR) AS value FROM lineitem
      UNION ALL SELECT 'columns_count', '11'
      UNION ALL SELECT 'numcols_count', '8'
      UNION ALL SELECT 'numcols_name', 'l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity, l_extendedprice, l_discount, l_tax'
      UNION ALL SELECT 'catcols_count', '2'
      UNION ALL SELECT 'catcols_name', 'l_returnflag, l_linestatus'
      UNION ALL SELECT 'othercols_count', '1'
      UNION ALL SELECT 'othercols_name', 'l_shipdate'"""))

  val qMissingCounts = Q(
    "q_missing_counts",
    (s, dir) => StatsGenerator.missingCount(tables(s, dir).customer, custCols),
    Some(perColumnUnion("customer", custCols)(c =>
      s"count(*) - count($c) AS missing_count, ${pctSql(s"count(*) - count($c)", "count(*)")} AS missing_pct")))

  val qNonzeroCounts = Q(
    "q_nonzero_counts",
    (s, dir) => StatsGenerator.nonzeroCount(tables(s, dir).lineitem, liNums),
    Some(perColumnUnion("lineitem", liNums)(c =>
      s"count(CASE WHEN $c IS NOT NULL AND $c <> 0 THEN 1 END) AS nonzero_count, " +
        pctSql(s"count(CASE WHEN $c IS NOT NULL AND $c <> 0 THEN 1 END)", "count(*)") + " AS nonzero_pct")))

  val qMeasuresOfCounts = Q(
    "q_measures_of_counts",
    (s, dir) => StatsGenerator.measuresOfCounts(tables(s, dir).orders,
      Seq("o_orderkey", "o_custkey", "o_totalprice")),
    Some(perColumnUnion("orders", Seq("o_orderkey", "o_custkey", "o_totalprice"))(c =>
      s"""count($c) AS fill_count, ${pctSql(s"count($c)", "count(*)")} AS fill_pct,
          count(*) - count($c) AS missing_count, ${pctSql(s"count(*) - count($c)", "count(*)")} AS missing_pct,
          count(CASE WHEN $c IS NOT NULL AND $c <> 0 THEN 1 END) AS nonzero_count,
          ${pctSql(s"count(CASE WHEN $c IS NOT NULL AND $c <> 0 THEN 1 END)", "count(*)")} AS nonzero_pct""")))

  private val ctCols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
  val qCentralTendency = Q(
    "q_central_tendency",
    (s, dir) => StatsGenerator.centralTendency(tables(s, dir).lineitem, ctCols),
    // mode ties break on the STRING form of the value (the engine's melt
    // casts to string before ranking), hence ORDER BY CAST AS VARCHAR
    Some(perColumnUnion("lineitem", ctCols)(c =>
      s"""CAST(sum(CAST($c AS DECIMAL(18,4))) AS DOUBLE) / count($c) AS mean,
          quantile_cont($c, 0.5) AS median,
          (SELECT CAST($c AS VARCHAR) FROM lineitem WHERE $c IS NOT NULL
             GROUP BY $c ORDER BY count(*) DESC, CAST($c AS VARCHAR) ASC LIMIT 1) AS mode,
          (SELECT count(*) FROM lineitem WHERE $c IS NOT NULL GROUP BY $c
             ORDER BY count(*) DESC, CAST($c AS VARCHAR) ASC LIMIT 1) AS mode_rows,
          round((SELECT CAST(count(*) AS DOUBLE) FROM lineitem WHERE $c IS NOT NULL
                   GROUP BY $c ORDER BY count(*) DESC, CAST($c AS VARCHAR) ASC LIMIT 1)
                / count($c), 4) AS mode_pct""")))

  private val modeCols = Seq("o_orderstatus", "o_orderpriority")
  val qMode = Q(
    "q_mode",
    (s, dir) => StatsGenerator.modeComputation(tables(s, dir).orders, modeCols),
    Some(modeCols.map(c =>
      s"""(SELECT '$c' AS attribute, $c AS mode, count(*) AS mode_count,
          round(CAST(count(*) AS DOUBLE) / (SELECT count($c) FROM orders), 4) AS mode_pct
          FROM orders GROUP BY $c ORDER BY count(*) DESC, $c ASC LIMIT 1)""")
      .mkString(" UNION ALL ")))

  val qUniqueCounts = Q(
    "q_unique_counts",
    (s, dir) => StatsGenerator.uniqueCount(tables(s, dir).lineitem, liNums),
    Some(perColumnUnion("lineitem", liNums)(c =>
      s"count(DISTINCT $c) AS unique_values")))

  // dispersion restricted to bounded-magnitude columns: variance of a
  // ~1e4-magnitude column needs 13 significant digits at round-4 — beyond
  // reliable cross-engine float agreement.
  private val dispCols = Seq("l_quantity", "l_discount", "l_tax")
  val qDispersion = Q(
    "q_dispersion",
    (s, dir) => StatsGenerator.measuresOfDispersion(tables(s, dir).lineitem, dispCols),
    Some(perColumnUnion("lineitem", dispCols)(c =>
      s"""round(stddev_samp($c), 4) AS stddev,
          round(var_samp($c), 4) AS variance,
          round(stddev_samp($c) / (CAST(sum(CAST($c AS DECIMAL(18,4))) AS DOUBLE) / count($c)), 4) AS cov,
          round(quantile_cont($c, 0.75) - quantile_cont($c, 0.25), 4) AS "IQR",
          max($c) - min($c) AS range""")))

  private val pctCols = Seq("l_quantity", "l_extendedprice", "l_discount")
  val qPercentiles = Q(
    "q_percentiles",
    (s, dir) => StatsGenerator.measuresOfPercentiles(tables(s, dir).lineitem, pctCols),
    Some(perColumnUnion("lineitem", pctCols)(c =>
      s"""CAST(min($c) AS DOUBLE) AS "min", """ +
        StatsGenerator.percentilePoints.map(p =>
          s"round(quantile_cont($c, $p), 4) AS pct_${(p * 100).toInt}").mkString(", ") +
        s""", CAST(max($c) AS DOUBLE) AS "max"""")))

  private val shapeCols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
  val qShape = Q(
    "q_shape",
    (s, dir) => StatsGenerator.measuresOfShape(tables(s, dir).lineitem, shapeCols),
    // Spark's skewness/kurtosis are population moments (g1, excess g2);
    // DuckDB's builtins are sample-corrected, so the oracle recomputes
    // from raw central moments.
    Some(shapeCols.map(c =>
      s"""SELECT '$c' AS attribute,
          round((sum(pow($c - mu, 3)) / count(*)) / pow(sum(pow($c - mu, 2)) / count(*), 1.5), 4) AS skewness,
          round((sum(pow($c - mu, 4)) / count(*)) / pow(sum(pow($c - mu, 2)) / count(*), 2) - 3, 4) AS kurtosis
          FROM lineitem, (SELECT avg($c) AS mu FROM lineitem)""")
      .mkString(" UNION ALL ")))

  val qCardinality = Q(
    "q_cardinality",
    (s, dir) => StatsGenerator.measuresOfCardinality(tables(s, dir).orders,
      Seq("o_orderkey", "o_orderstatus", "o_orderpriority")),
    Some(perColumnUnion("orders", Seq("o_orderkey", "o_orderstatus", "o_orderpriority"))(c =>
      s"""count(DISTINCT $c) AS unique_values,
          ${pctSql(s"count(DISTINCT $c)", s"count($c)")} AS "IDness"""")))

  // ---- basic-report chart-DATA frames (ref report_preprocessing.py) ----

  /** Frequency-chart frame for a numeric column: equal-range 10-bin fit
    * (same lo + (hi−lo)·i/k cutoff arithmetic on both engines, so the
    * DECIMAL(18,4) range labels match to the character), per-bin counts
    * and percentage of total. ref: report_preprocessing.py:200-259.
    */
  val qReportFrequency = Q(
    "q_report_frequency_chart",
    (s, dir) => {
      val li = tables(s, dir).lineitem
      val cuts = graft.operators.Transformers.equalRangeCuts(li, Seq("l_quantity"), 10)
      graft.operators.BasicReport.frequencyChartData(li, "l_quantity", Some(cuts("l_quantity")))
    },
    Some {
      val lab = (i: Int) =>
        s"CAST(CAST(round(lo + (hi - lo) * $i / 10, 4) AS DECIMAL(18,4)) AS VARCHAR)"
      s"""
      WITH mm AS (SELECT CAST(min(l_quantity) AS DOUBLE) AS lo,
                         CAST(max(l_quantity) AS DOUBLE) AS hi FROM lineitem),
      cnt AS (SELECT ${binCaseSql("l_quantity", "lo", "hi", 10)} AS bin_idx,
                     count(*) AS cnt
              FROM lineitem, mm GROUP BY 1),
      lab AS (SELECT CAST(i AS INT) AS bin_idx,
                -- equal-sided interior ranges collapse to the single
                -- value, mirroring the engine's editBinRange rule
                CASE WHEN i = 1 THEN '<= ' || ${lab(1)}
                     WHEN i = 10 THEN '> ' || ${lab(9)}
                     WHEN ${"CAST(CAST(round(lo + (hi - lo) * (i - 1) / 10, 4) AS DECIMAL(18,4)) AS VARCHAR)"} =
                          ${"CAST(CAST(round(lo + (hi - lo) * i / 10, 4) AS DECIMAL(18,4)) AS VARCHAR)"}
                       THEN ${"CAST(CAST(round(lo + (hi - lo) * (i - 1) / 10, 4) AS DECIMAL(18,4)) AS VARCHAR)"}
                     ELSE ${"(CAST(CAST(round(lo + (hi - lo) * (i - 1) / 10, 4) AS DECIMAL(18,4)) AS VARCHAR))"} || '-' ||
                          ${"(CAST(CAST(round(lo + (hi - lo) * i / 10, 4) AS DECIMAL(18,4)) AS VARCHAR))"}
                END AS label
              FROM range(1, 11) t(i), mm)
      SELECT c.bin_idx, l.label AS l_quantity, c.cnt AS "count",
             round(100 * CAST(c.cnt AS DOUBLE) / (SELECT sum(cnt) FROM cnt), 4) AS count_pct
      FROM cnt c LEFT JOIN lab l USING (bin_idx)"""
    })

  /** Event-rate chart frame: label binarized against the event value,
    * events/non-events and 100·event/total per category.
    * ref: report_preprocessing.py:305-368.
    */
  val qReportEventRate = Q(
    "q_report_event_rate",
    (s, dir) => {
      val ev = tables(s, dir).events
        .withColumn("lbl", when(col("value") > 50, "hi").otherwise("lo"))
      graft.operators.BasicReport.eventRateChartData(ev, "event_type", "lbl", "hi")
    },
    Some("""
      SELECT coalesce(CAST(event_type AS VARCHAR), 'Missing') AS event_type,
             CAST(sum(CASE WHEN value > 50 THEN 0 ELSE 1 END) AS BIGINT) AS non_event_count,
             CAST(sum(CASE WHEN value > 50 THEN 1 ELSE 0 END) AS BIGINT) AS event_count,
             round(100 * CAST(sum(CASE WHEN value > 50 THEN 1 ELSE 0 END) AS DOUBLE)
                   / count(*), 4) AS event_rate,
             'event_type' AS attribute_name
      FROM events GROUP BY 1"""))

  /** Comparative-drift chart frame: target share vs a source share frame,
    * full-outer with 0-fills and (target/source − 1)·100.
    * ref: report_preprocessing.py:371-430.
    */
  val qReportCompDrift = Q(
    "q_report_comparative_drift",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = tables(s, dir).events
      val target = ev.filter(col("user_id") % 2 === 1)
      val source = ev.filter(col("user_id") % 2 === 0)
        .groupBy(col("event_type")).agg(count(lit(1)).as("cnt"))
        .select(col("event_type"),
          round(col("cnt") / sum("cnt").over(Window.partitionBy()), 4).as("p"))
      graft.operators.BasicReport.comparativeDriftChartData(target, source, "event_type")
    },
    Some("""
      WITH tgt AS (SELECT coalesce(CAST(event_type AS VARCHAR), 'Missing') AS event_type,
                          count(*) AS cnt FROM events WHERE user_id % 2 = 1 GROUP BY 1),
      tp AS (SELECT event_type,
                    round(CAST(cnt AS DOUBLE) / (SELECT sum(cnt) FROM tgt), 4) AS countpct_target
             FROM tgt),
      src AS (SELECT coalesce(CAST(event_type AS VARCHAR), 'Missing') AS event_type,
                     count(*) AS cnt FROM events WHERE user_id % 2 = 0 GROUP BY 1),
      sp AS (SELECT event_type,
                    round(CAST(cnt AS DOUBLE) / (SELECT sum(cnt) FROM src), 4) AS p
             FROM src)
      SELECT event_type,
             coalesce(p, 0.0) AS countpct_source,
             coalesce(countpct_target, 0.0) AS countpct_target,
             CASE WHEN coalesce(p, 0.0) <> 0.0
                  THEN round((coalesce(countpct_target, 0.0) / p - 1) * 100, 4) END AS pct_diff
      FROM tp FULL OUTER JOIN sp USING (event_type)"""))

  /** Outlier (violin) chart frame: deterministic md5-threshold sample of
    * events at fraction min(1, 500/count), nulls planted below 10, then
    * MMM median imputation over the SAMPLED frame — the full
    * sample→impute pipeline replays in DuckDB, threshold arithmetic
    * included. ref: report_preprocessing.py:260-302.
    */
  val qReportOutlier = Q(
    "q_report_outlier",
    (s, dir) => {
      val ev = tables(s, dir).events
        .withColumn("value", when(col("value") < 10, lit(null)).otherwise(col("value")))
      graft.operators.BasicReport.outlierChartData(
        ev, "value", Seq("event_id"), sampleSize = 500L)
        .select(col("event_id"), round(col("value"), 4).as("value"),
          col("attribute_name"))
    },
    Some("""
      WITH base AS (
        SELECT event_id,
          CASE WHEN value < 10 THEN NULL ELSE value END AS value
        FROM events),
      thr AS (SELECT CAST(floor(LEAST(1.0, 500.0 / GREATEST(count(*), 1))
                                * 1152921504606846976) AS BIGINT) AS t
              FROM base),
      samp AS (SELECT event_id, value FROM base
               WHERE ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15))::BIGINT
                     < (SELECT t FROM thr)),
      med AS (SELECT quantile_cont(value, 0.5) AS v FROM samp)
      SELECT event_id,
        round(coalesce(value, (SELECT v FROM med)), 4) AS value,
        'value' AS attribute_name
      FROM samp"""))

  /** HLL sketch store in its EXACT regime: per-status sketches of
    * o_orderpriority (5 distinct values — far inside the Datasketches
    * list-mode range where the coupon set IS the value set), then the
    * union-merge path re-groups to a global estimate. Estimates equal
    * exact distinct counts here, so the whole build→store→union→estimate
    * pipeline rides the hash gate; the approximate regime stays covered
    * by SketchSpec's bit-exact merge law (union-of-parts == whole).
    */
  val qHllDistinct = Q(
    "q_hll_distinct",
    (s, dir) => {
      val sk = graft.operators.SketchStore.hllSketches(
        tables(s, dir).orders, Seq("o_orderstatus"), "o_orderpriority")
      graft.operators.SketchStore.unionEstimate(sk, Seq("o_orderstatus"))
        .unionByName(
          graft.operators.SketchStore.unionEstimate(sk)
            .withColumn("o_orderstatus", lit("ALL"))
            .select("o_orderstatus", "distinct_estimate"))
    },
    Some("""
      SELECT o_orderstatus, count(DISTINCT o_orderpriority) AS distinct_estimate
      FROM orders GROUP BY o_orderstatus
      UNION ALL
      SELECT 'ALL', count(DISTINCT o_orderpriority) FROM orders"""))

  /** Sketch-store set overlap in the exact list-mode regime: per-status
    * HLL sketches of the distinct clerk set, then the inclusion–
    * exclusion intersection |A∩B| = est(A)+est(B)−est(A∪B) between two
    * status groups. At these cardinalities every sketch is in list mode
    * so all four outputs are exact integers — the oracle computes the
    * same counts from raw rows (DuckDB can't replay sketch binaries,
    * but it CAN replay their exact regime). The estimating regime rides
    * StatsSpec's error envelope.
    */
  val qHllIntersection = Q(
    "q_hll_intersection",
    (s, dir) => {
      val sk = graft.operators.SketchStore.hllSketches(
        tables(s, dir).orders, Seq("o_orderstatus"), "o_orderpriority")
      graft.operators.SketchStore.intersectionEstimate(
        sk, "o_orderstatus", Seq("F"), Seq("O", "P"))
    },
    Some("""
      SELECT
        (SELECT count(DISTINCT o_orderpriority) FROM orders
         WHERE o_orderstatus = 'F') AS a_estimate,
        (SELECT count(DISTINCT o_orderpriority) FROM orders
         WHERE o_orderstatus IN ('O', 'P')) AS b_estimate,
        (SELECT count(DISTINCT o_orderpriority) FROM orders
         WHERE o_orderstatus IN ('F', 'O', 'P')) AS union_estimate,
        greatest(
          (SELECT count(DISTINCT o_orderpriority) FROM orders WHERE o_orderstatus = 'F')
          + (SELECT count(DISTINCT o_orderpriority) FROM orders WHERE o_orderstatus IN ('O', 'P'))
          - (SELECT count(DISTINCT o_orderpriority) FROM orders WHERE o_orderstatus IN ('F', 'O', 'P')),
          0) AS intersection_estimate"""))

  /** Incremental moments store end-to-end: per-(day, event_type) exact
    * (n, Σx, Σx²) rows are built once, round-trip parquet, and the
    * RE-READ rows merge to per-event-type mean/variance/stddev — the
    * history-never-rescanned rollup. The oracle computes the same stats
    * from raw rows with the identical decimal-sum-then-single-division
    * arithmetic, so the merge path is proven exactly equal to a
    * from-scratch scan.
    */
  val qMomentsStore = Q(
    "q_moments_store",
    (s, dir) => {
      val store = new java.io.File(
        System.getProperty("java.io.tmpdir", "/tmp"),
        "graft_q_moments_store_" + dir.replaceAll("[^A-Za-z0-9.]", "_")).toString
      graft.operators.SketchStore.momentSketches(
        tables(s, dir).events
          .withColumn("day", date_format(col("ts"), "yyyy-MM-dd")),
        Seq("day", "event_type"), "value")
        .write.mode("overwrite").parquet(store)
      graft.operators.SketchStore.mergeMoments(
        s.read.parquet(store), Seq("event_type"))
    },
    Some("""
      SELECT event_type,
        count(value) AS n,
        round(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) / count(value), 4) AS mean,
        round((CAST(sum(CAST(value AS DECIMAL(18,4)) * CAST(value AS DECIMAL(18,4))) AS DOUBLE)
               - CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
                 * CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) / count(value))
              / (count(value) - 1), 4) AS variance,
        round(sqrt((CAST(sum(CAST(value AS DECIMAL(18,4)) * CAST(value AS DECIMAL(18,4))) AS DOUBLE)
               - CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
                 * CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) / count(value))
              / (count(value) - 1)), 4) AS stddev
      FROM events GROUP BY event_type"""))

  /** Incremental quantile store end-to-end: per-(batch-half, flag)
    * fixed-grid histogram sketches round-trip parquet, the RE-READ rows
    * merge to per-flag stores by count addition, and the merged store
    * answers 4 quantiles — history never rescanned. The caller-pinned
    * [900, 105000]×256 grid makes the state engine-portable, so the
    * oracle histograms the raw rows ONCE per flag with the identical
    * cell arithmetic and must land on the same cells and edges —
    * proving merged-then-queried equals built-from-scratch.
    */
  val qQuantileStore = Q(
    "q_quantile_store",
    (s, dir) => {
      val store = new java.io.File(
        System.getProperty("java.io.tmpdir", "/tmp"),
        "graft_q_quantile_store_" + dir.replaceAll("[^A-Za-z0-9.]", "_")).toString
      val li = tables(s, dir).lineitem
        .withColumn("half", (col("l_orderkey") % 2).cast("int"))
      graft.operators.SketchStore.quantileSketch(
        li, Seq("half", "l_returnflag"), "l_extendedprice",
        lo = 900.0, hi = 105000.0, bins = 256)
        .write.mode("overwrite").parquet(store)
      val merged = graft.operators.SketchStore.mergeQuantileSketches(
        s.read.parquet(store), Seq("l_returnflag"))
      graft.operators.SketchStore.sketchQuantiles(
        merged, Seq("l_returnflag"),
        lo = 900.0, hi = 105000.0, bins = 256,
        qs = Seq(0.25, 0.5, 0.75, 0.95))
    },
    Some("""
      WITH h AS (
        SELECT l_returnflag,
          CAST(least(greatest(floor(
            (CAST(l_extendedprice AS DOUBLE) - 900.0) / 104100.0 * 256),
            -1), 256) AS BIGINT) + 1 AS bin
        FROM lineitem WHERE l_extendedprice IS NOT NULL),
      st AS (SELECT l_returnflag, bin, count(*) AS cnt FROM h GROUP BY 1, 2),
      c AS (SELECT l_returnflag, bin, cnt,
              sum(cnt) OVER (PARTITION BY l_returnflag ORDER BY bin) AS cum,
              sum(cnt) OVER (PARTITION BY l_returnflag) AS n
            FROM st),
      qs(q) AS (VALUES (0.25), (0.5), (0.75), (0.95)),
      sel AS (SELECT c.l_returnflag, CAST(qs.q AS DOUBLE) AS q,
                     min(c.bin) AS qbin
              FROM c JOIN qs ON c.cum >= ceil(CAST(qs.q AS DOUBLE) * c.n)
              GROUP BY 1, 2)
      SELECT l_returnflag, q,
        CASE WHEN qbin <= 0 THEN 900.0
             WHEN qbin >= 257 THEN 105000.0
             ELSE 900.0 + 104100.0 * qbin / 256 END AS est
      FROM sel"""))

  /** Corpus concentration diagnostics: the Gini coefficient of per-doc
    * length mass plus the Herfindahl index / top share over sources —
    * "is one source dominating the mixture". The Gini's tie-group
    * closed form v·(n·start + n(n+1)/2) (engine, two-phase prefix over
    * distinct values) sums to exactly the oracle's per-row Σ i·x₍ᵢ₎
    * (row_number rank) because equal values make the within-tie order
    * irrelevant — both accumulate in DECIMAL, so S1/S/N agree to the
    * digit before the single closing division.
    */
  val qConcentration = Q(
    "q_concentration",
    (s, dir) => {
      val d = tables(s, dir).documents
      val gini = StatsGenerator.giniCoefficient(d, Seq("n_chars"))
        .select(lit("gini_n_chars").as("metric"), col("gini").as("value"))
      val hhi = StatsGenerator.hhiConcentration(d, "source", "n_chars")
        .selectExpr("""stack(3,
          'hhi_source', hhi,
          'n_sources', cast(n_groups as double),
          'top_share_source', top_share) as (metric, value)""")
      gini.unionByName(hhi)
    },
    Some("""
      SELECT 'gini_n_chars' AS metric,
        round(2.0 * S1 / (N * S) - (N + 1.0) / N, 4) AS value
      FROM (
        SELECT CAST(sum(i * x) AS DOUBLE) AS S1,
               CAST(sum(x) AS DOUBLE) AS S,
               count(*) AS N
        FROM (SELECT CAST(n_chars AS DECIMAL(18,4)) AS x,
                     row_number() OVER (ORDER BY CAST(n_chars AS DECIMAL(18,4))) AS i
              FROM documents WHERE n_chars IS NOT NULL))
      UNION ALL
      SELECT 'hhi_source',
        round(CAST(sum(CAST(round(
          (CAST(wg AS DOUBLE) / CAST(wt AS DOUBLE))
            * (CAST(wg AS DOUBLE) / CAST(wt AS DOUBLE)), 8) AS DECIMAL(28,8))) AS DOUBLE), 4)
      FROM (SELECT wg, sum(wg) OVER () AS wt FROM (
              SELECT sum(CAST(n_chars AS DECIMAL(18,4))) AS wg FROM documents
              WHERE source IS NOT NULL AND n_chars IS NOT NULL GROUP BY source))
      UNION ALL
      SELECT 'n_sources', CAST(count(DISTINCT source) AS DOUBLE) FROM documents
      WHERE source IS NOT NULL AND n_chars IS NOT NULL
      UNION ALL
      SELECT 'top_share_source',
        round(max(CAST(wg AS DOUBLE) / CAST(wt AS DOUBLE)), 4)
      FROM (SELECT wg, sum(wg) OVER () AS wt FROM (
              SELECT sum(CAST(n_chars AS DECIMAL(18,4))) AS wg FROM documents
              WHERE source IS NOT NULL AND n_chars IS NOT NULL GROUP BY source))"""))

  /** Benford first-digit conformity over price-like columns — leading
    * digits extracted exactly in the integer domain (decimal × 10⁴ →
    * BIGINT → first digit character, no log/floor boundary cases), so
    * the digit histogram is hash-identical cross-engine and only the
    * expected-share ln ulp rides under the 4-dp round.
    */
  val qBenford = Q(
    "q_benford",
    (s, dir) => StatsGenerator.benfordTest(tables(s, dir).lineitem,
      Seq("l_extendedprice", "l_quantity")),
    Some(Seq("l_extendedprice", "l_quantity").map { c =>
      s"""
      SELECT '$c' AS attribute, CAST(max(n) AS BIGINT) AS n,
        CASE WHEN max(n) > 0 THEN round(CAST(sum(CAST(round(
          n * (p - e) * (p - e) / e, 8) AS DECIMAL(28,8))) AS DOUBLE), 4) END AS chi2,
        CASE WHEN max(n) > 0 THEN round(max(abs(p - e)), 4) END AS max_abs_dev
      FROM (
        SELECT d,
          CASE WHEN n > 0 THEN CAST(cnt AS DOUBLE) / n ELSE 0.0 END AS p,
          ln(1.0 + 1.0 / d) / ln(10.0) AS e, n
        FROM (
          SELECT dd.d, coalesce(o.cnt, 0) AS cnt,
                 CAST(sum(coalesce(o.cnt, 0)) OVER () AS DOUBLE) AS n
          FROM (SELECT unnest(range(1, 10)) AS d) dd
          LEFT JOIN (
            SELECT CAST(substr(CAST(CAST(abs(CAST($c AS DECIMAL(18,4))) * 10000
                     AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS d,
                   count(*) AS cnt
            FROM lineitem
            WHERE $c IS NOT NULL AND abs(CAST($c AS DECIMAL(18,4))) > 0
            GROUP BY 1) o ON dd.d = o.d))"""
    }.mkString(" UNION ALL ")))

  def all: Seq[Q] = Seq(qGlobalSummary, qMissingCounts, qNonzeroCounts, qMeasuresOfCounts,
    qCentralTendency, qMode, qUniqueCounts, qDispersion, qPercentiles, qShape, qCardinality,
    qReportFrequency, qReportEventRate, qReportCompDrift, qReportOutlier, qHllDistinct,
    qHllIntersection, qMomentsStore, qQuantileStore, qConcentration, qBenford)
}
