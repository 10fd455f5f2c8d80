package graftbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.functions.{Dedup, Graph, TextOps}
import graft.operators._
import graft.sources.Ingest
import graft.streaming.StreamingOps

object Workloads {
  def apply(name: String): Workload = name match {
    case "features" => Features
    case "curation" => Curation
    case "pipeline" => Pipeline
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  /** Runs every row of `df` through one aggregate: (rows, xor of row hashes). */
  def digest(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)), bit_xor(xxhash64(df.columns.map(c => col(s"`$c`")): _*))).first()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  def check(call: String)(cond: => Boolean, detail: => String): Check =
    Check(call, () => if (cond) None else Some(detail))

  def nullCount(df: DataFrame, cols: Seq[String]): Long =
    df.select(cols.map(c => count(when(col(c).isNull, 1))).reduce(_ + _)).first().getLong(0)

  /** Union-find over edges; returns node -> smallest node of its component. */
  def components(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    parent.keys.toSeq.map(k => k -> find(k)).toMap
  }

  def rowsOf(c: Ctx, call: String): Rows = c.outputs(call).asInstanceOf[Rows]
}

import Workloads._

/** Fit-dominated feature engineering: `sources` and `operators` calls on a
  * lineitem-shaped table with planted nulls, duplicates and outliers.
  */
object Features extends Workload {
  val num = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
  val cat = Seq("l_returnflag", "l_linestatus", "l_shipmode")
  val pct = Seq("l_quantity", "l_extendedprice", "l_discount")

  def pass(c: Ctx): Unit = {
    val s = c.spark
    val li = c.call("sources", "Ingest.readDataset")(Ingest.readDataset(s, c.path("lineitem"), "parquet"))
    val shift = c.call("sources", "Ingest.readDataset[shift]")(
      Ingest.readDataset(s, c.path("lineitem_shift"), "parquet"))
    c.call("operators", "StatsGenerator.measuresOfCounts")(Rows(StatsGenerator.measuresOfCounts(li, num)))
    c.call("operators", "StatsGenerator.measuresOfPercentiles")(
      Rows(StatsGenerator.measuresOfPercentiles(li, pct)))
    c.call("operators", "QualityChecker.duplicateDetection")(
      Rows(QualityChecker.duplicateDetection(li, li.columns.toSeq)))
    val imputed = c.call("operators", "Transformers.imputationMMM")(
      Transformers.imputationMMM(li, num, cat).localCheckpoint())

    c.call("operators", "Association.correlationMatrix")(Rows(Association.correlationMatrix(imputed, num)))
    c.call("operators", "Transformers.quantileTransform") {
      val d = Transformers.quantileTransform(imputed, Seq("l_quantity", "l_extendedprice"))
      digest(d)
      d
    }
    c.call("operators", "Drift.driftStatistics")(Rows(Drift.driftStatistics(li, shift, num)))
  }

  def checks(c: Ctx): Seq[Check] = {
    val imputed = c.outputs("Transformers.imputationMMM").asInstanceOf[DataFrame]
    def frame(call: String) = c.outputs(call).asInstanceOf[DataFrame]
    Seq(
      check("Transformers.imputationMMM")(nullCount(imputed, num ++ cat) == 0L,
        "nulls remain after MMM imputation"),
      check("Transformers.imputationMMM")(imputed.count() == c.outputs("Ingest.readDataset").asInstanceOf[DataFrame].count(),
        "imputation changed the row count"),
      check("Transformers.quantileTransform")({
        val r = frame("Transformers.quantileTransform").agg(min("l_extendedprice_qt"), max("l_extendedprice_qt")).first()
        r.getDouble(0) >= 0.0 && r.getDouble(1) <= 1.0
      }, "quantile transform outside [0, 1]"),
      check("Drift.driftStatistics")(rowsOf(c, "Drift.driftStatistics").data.length == num.length,
        "drift rows != columns"))
  }

  override def oracles(c: Ctx): Seq[Oracle] = {
    def union(cols: Seq[String])(f: String => String) =
      cols.map(x => s"SELECT '$x' AS attribute, ${f(x)} FROM lineitem").mkString(" UNION ALL ")
    def pctOf(n: String, d: String) = s"round(CAST($n AS DOUBLE) / $d, 4)"
    val nz = (x: String) => s"count(CASE WHEN $x IS NOT NULL AND $x <> 0 THEN 1 END)"
    val cols = c.outputs("Ingest.readDataset").asInstanceOf[DataFrame].columns.toSeq
    Seq(
      Oracle("StatsGenerator.measuresOfCounts", rowsOf(c, "StatsGenerator.measuresOfCounts"),
        union(num)(x =>
          s"""count($x) AS fill_count, ${pctOf(s"count($x)", "count(*)")} AS fill_pct,
              count(*) - count($x) AS missing_count, ${pctOf(s"count(*) - count($x)", "count(*)")} AS missing_pct,
              ${nz(x)} AS nonzero_count, ${pctOf(nz(x), "count(*)")} AS nonzero_pct"""),
        Seq("lineitem")),
      Oracle("StatsGenerator.measuresOfPercentiles", rowsOf(c, "StatsGenerator.measuresOfPercentiles"),
        union(pct)(x =>
          s"""CAST(min($x) AS DOUBLE) AS "min", """ +
            StatsGenerator.percentilePoints.map(p =>
              s"round(quantile_cont($x, $p), 4) AS pct_${(p * 100).toInt}").mkString(", ") +
            s""", CAST(max($x) AS DOUBLE) AS "max""""),
        Seq("lineitem")),
      Oracle("QualityChecker.duplicateDetection", rowsOf(c, "QualityChecker.duplicateDetection"), {
        val d = s"(SELECT count(*) FROM (SELECT DISTINCT ${cols.mkString(", ")} FROM lineitem))"
        val n = "(SELECT count(*) FROM lineitem)"
        s"""SELECT 'rows_count' AS metric, CAST($n AS DOUBLE) AS value
            UNION ALL SELECT 'unique_rows_count', CAST($d AS DOUBLE)
            UNION ALL SELECT 'duplicate_rows', CAST($n - $d AS DOUBLE)
            UNION ALL SELECT 'duplicate_pct', round(CAST($n - $d AS DOUBLE) / $n, 4)"""
      }, Seq("lineitem")))
  }
}

/** Shuffle-heavy, iterative curation: `functions` calls on documents and a
  * customer-supplier graph, then a `StreamingOps` query over seeded
  * documents replayed as file micro-batches (`availableNow`, one file per
  * trigger) and compared with its batch twin. The streaming MinHash path
  * reuses the dedup kernel per row.
  */
object Curation extends Workload {
  def pass(c: Ctx): Unit = {
    val s = c.spark
    val docs = s.read.parquet(c.path("documents"))
    val edges = s.read.parquet(c.path("edges"))
    c.call("functions", "TextOps.textStats")(Rows(TextOps.textStats(docs, "text", "doc_id")))
    c.call("functions", "Dedup.exactDuplicates")(Rows(Dedup.exactDuplicates(docs, "text", "doc_id")))
    val mh = c.call("functions", "Dedup.minhashNearDuplicates")(
      Rows(Dedup.minhashNearDuplicates(docs, "text", "doc_id", threshold = 0.7)))
    val pairs = s.createDataFrame(java.util.Arrays.asList(mh.data: _*), mh.schema).select("key_1", "key_2")
    c.call("functions", "Dedup.duplicateClusters")(Rows(Dedup.duplicateClusters(pairs)))
    c.call("functions", "Graph.connectedComponents")(Rows(Graph.connectedComponents(edges)))
    c.call("streaming", "StreamingOps.streamingMinhashCandidates")(runToEnd(c, "minhash",
      StreamingOps.streamingMinhashCandidates(source(c, "docs_stream"), "text", "doc_id", "ts",
        watermarkMs = HorizonMs).toDF(), "append"))
  }

  private def source(c: Ctx, dir: String): DataFrame = {
    val path = s"${c.inputs}/$dir"
    c.spark.readStream.schema(c.spark.read.parquet(path).schema)
      .option("maxFilesPerTrigger", 1).parquet(path)
  }

  /** Runs a streaming query to the end of its input; returns its sink rows. */
  private def runToEnd(c: Ctx, name: String, df: DataFrame, mode: String): Rows = {
    val q = s"${name}_p${c.pass}"
    val query = df.writeStream.format("memory").queryName(q).outputMode(mode)
      .option("checkpointLocation", c.scratch(s"ckpt_$q"))
      .trigger(Trigger.AvailableNow())
      .start()
    query.awaitTermination()
    val out = Rows(c.spark.table(q))
    c.spark.catalog.dropTempView(q)
    out
  }

  // longer than the 36 h the documents' event times span: no state is
  // pruned, so the stream must equal its batch twin
  private val HorizonMs = 48L * 3600 * 1000

  def checks(c: Ctx): Seq[Check] = {
    val s = c.spark
    val edges = s.read.parquet(c.path("edges")).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    Seq(
      check("Graph.connectedComponents")({
        val comp = components(edges)
        val got = rowsOf(c, "Graph.connectedComponents").data
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        got == comp
      }, "component labels disagree with the edges"),
      check("Dedup.minhashNearDuplicates")({
        val d = rowsOf(c, "Dedup.minhashNearDuplicates").data
        d.nonEmpty && d.forall(r => r.getAs[Double]("jaccard") >= 0.7)
      }, "a verified pair is below the Jaccard threshold"),
      check("Dedup.duplicateClusters")({
        val label = rowsOf(c, "Dedup.duplicateClusters").data.map(r => r.getLong(0) -> r.getLong(1)).toMap
        val pairs = rowsOf(c, "Dedup.minhashNearDuplicates").data.map(r => (r.getLong(0), r.getLong(1)))
        label == components(pairs.toSeq)
      }, "duplicate clusters disagree with the pairs"),
      check("StreamingOps.streamingMinhashCandidates")({
        val pairs = (d: Array[Row]) => d.map(x => (x.getLong(0), x.getLong(1))).toSet
        val got = pairs(rowsOf(c, "StreamingOps.streamingMinhashCandidates").data)
        // threshold 0 keeps every band candidate the batch path verifies
        val twin = Dedup.minhashNearDuplicatesMd5(s.read.parquet(s"${c.inputs}/docs_stream"),
          "text", "doc_id", threshold = 0.0).select("key_1", "key_2").collect()
        got.nonEmpty && got == pairs(twin)
      }, "stream candidate pairs differ from the batch band candidates"))
  }

  private val normSql = "trim(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))"

  override def oracles(c: Ctx): Seq[Oracle] = Seq(
    Oracle("Dedup.exactDuplicates", rowsOf(c, "Dedup.exactDuplicates"),
      s"""SELECT md5($normSql) AS fingerprint, count(*) AS dup_count, min(doc_id) AS representative
          FROM documents GROUP BY 1 HAVING count(*) > 1""", Seq("documents")),
    Oracle("TextOps.textStats", rowsOf(c, "TextOps.textStats"), {
      val stops = TextOps.defaultStopwords.map(w => s"'$w'").mkString(", ")
      s"""
      WITH t AS (SELECT doc_id, text, str_split($normSql, ' ') AS toks FROM documents)
      SELECT doc_id,
        length(text) AS n_chars,
        CASE WHEN length(trim(text)) = 0 THEN 0
             ELSE len(str_split_regex(trim(text), '\\s+')) END AS n_words,
        round(CASE WHEN len(str_split_regex(trim(text), '\\s+')) = 0 THEN 0.0
             ELSE CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS DOUBLE)
                  / len(str_split_regex(trim(text), '\\s+')) END, 4) AS mean_word_len,
        round(CASE WHEN length(text) = 0 THEN 0.0
             ELSE CAST(length(text) - length(regexp_replace(text, '[^\\p{L}\\p{N}\\s]', '', 'g')) AS DOUBLE)
                  / length(text) END, 4) AS punct_ratio,
        round(CASE WHEN length(text) = 0 THEN 0.0
             ELSE CAST(length(text) - length(regexp_replace(text, '[A-Z]', '', 'g')) AS DOUBLE)
                  / length(text) END, 4) AS upper_ratio,
        round(CASE WHEN len(toks) = 0 THEN 0.0
             ELSE CAST(len(list_filter(toks, x -> x IN ($stops))) AS DOUBLE) / len(toks) END, 4)
          AS stopword_ratio
      FROM t"""
    }, Seq("documents")))
}

/** The feature layers through the YAML stage runner: ETL -> quality ->
  * transformers -> drift with write-and-re-read barriers; the written
  * output is re-read.
  */
object Pipeline extends Workload {
  def featureConfig(c: Ctx, inter: String, out: String): String =
    s"""input_dataset:
       |  read_dataset:
       |    file_path: "${c.path("orders")}"
       |    file_type: parquet
       |  delete_column: [o_orderdate]
       |  rename_column: {o_orderpriority: priority}
       |  recast_column: {o_custkey: double}
       |quality_checker:
       |  duplicate_detection: {list_of_cols: all, treatment: true}
       |  outlier_detection: {list_of_cols: [o_totalprice], treatment: true,
       |    treatment_method: value}
       |  nullColumns_detection: {list_of_cols: [o_totalprice], treatment: true,
       |    treatment_method: MMM}
       |transformers:
       |  attribute_binning: {list_of_cols: [o_totalprice],
       |    method_type: equal_range, bin_size: 5}
       |  cat_to_num_unsupervised: {list_of_cols: [priority]}
       |drift_detector:
       |  source_path: "${c.path("drift_src")}"
       |  list_of_cols: [o_totalprice]
       |write_intermediate:
       |  file_path: "$inter"
       |write_main:
       |  file_path: "$out"
       |""".stripMargin

  /** Runs a config and every metric frame its stages attach. */
  private def runConfig(c: Ctx, yaml: String): Map[String, Rows] = {
    val (_, stages) = graft.workflow.Workflow.run(c.spark, yaml)
    stages.flatMap(st => st.metrics.map { case (k, df) => s"${st.name}.$k" -> Rows(df) }).toMap
  }

  def pass(c: Ctx): Unit = {
    val s = c.spark
    val (inter, out) = (c.scratch("pipeline_inter"), c.scratch("pipeline_features"))
    c.call("workflow", "Workflow.run[features]")(runConfig(c, featureConfig(c, inter, out)))
    c.call("sources", "Ingest.readDataset[features]")(Rows(
      Ingest.readDataset(s, out, "parquet")
        .groupBy(col("priority"), col("priority_index"), col("o_totalprice_binned").as("bin"))
        .agg(count(lit(1)).as("n_rows"), sum("o_orderkey").as("key_sum"))))
  }

  def checks(c: Ctx): Seq[Check] = Seq(
    check("Workflow.run[features]")(
      nullCount(c.spark.read.parquet(c.scratchPath("pipeline_features")), Seq("o_totalprice")) == 0L,
      "nulls remain after MMM imputation"),
    check("Workflow.run[features]")(
      c.outputs("Workflow.run[features]").asInstanceOf[Map[String, Rows]]
        .get("drift_detector.drift_statistics").exists(_.data.length == 1),
      "drift statistics missing"))

  override def oracles(c: Ctx): Seq[Oracle] = {
    val bins = (1 until 5).map(i => s"WHEN i.o_totalprice <= mm.lo + (mm.hi - mm.lo) * $i / 5 THEN $i")
      .mkString(" ")
    Seq(Oracle("Ingest.readDataset[features]", rowsOf(c, "Ingest.readDataset[features]"),
      s"""
      WITH src AS (
        SELECT o_orderkey, CAST(o_custkey AS DOUBLE) AS o_custkey, o_orderstatus,
               o_totalprice, o_orderpriority AS priority
        FROM orders),
      ded AS (SELECT DISTINCT * FROM src),
      b AS (SELECT quantile_cont(o_totalprice, 0.05) AS pl,
                   quantile_cont(o_totalprice, 0.95) AS pu,
                   quantile_cont(o_totalprice, 0.25) AS q1,
                   quantile_cont(o_totalprice, 0.75) AS q3,
                   avg(o_totalprice) AS m, stddev_samp(o_totalprice) AS sd
            FROM ded),
      cb AS (SELECT list_sort([pl, m - 3*sd, q1 - 1.5*(q3-q1)])[2] AS lo,
                    list_sort([pu, m + 3*sd, q3 + 1.5*(q3-q1)])[2] AS hi
             FROM b),
      cl AS (SELECT d.* REPLACE (
               CASE WHEN d.o_totalprice > cb.hi THEN cb.hi
                    WHEN d.o_totalprice < cb.lo THEN cb.lo
                    ELSE d.o_totalprice END AS o_totalprice)
             FROM ded d, cb),
      med AS (SELECT quantile_cont(o_totalprice, 0.5) AS v FROM cl),
      imp AS (SELECT cl.* REPLACE (
                coalesce(o_totalprice, (SELECT v FROM med)) AS o_totalprice)
              FROM cl),
      mm AS (SELECT CAST(min(o_totalprice) AS DOUBLE) AS lo,
                    CAST(max(o_totalprice) AS DOUBLE) AS hi FROM imp),
      enc AS (SELECT priority,
                CAST(row_number() OVER (ORDER BY cnt DESC, priority ASC) - 1 AS INT)
                  AS priority_index
              FROM (SELECT priority, count(*) AS cnt FROM imp
                    WHERE priority IS NOT NULL GROUP BY priority)),
      binned AS (SELECT i.*, CASE $bins ELSE 5 END AS bin FROM imp i, mm)
      SELECT b.priority, e.priority_index, b.bin,
             count(*) AS n_rows, CAST(sum(b.o_orderkey) AS BIGINT) AS key_sum
      FROM binned b JOIN enc e USING (priority)
      GROUP BY b.priority, e.priority_index, b.bin""", Seq("orders")))
  }
}
