package graft.workflow

import graft.core.{ColumnRole, ColumnSelector}
import graft.functions._
import graft.operators._
import graft.plans.GraftFunctions
import graft.sources.{Ingest, Sampling}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, lit, log, round, size, when}
import org.yaml.snakeyaml.Yaml
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** YAML-config-driven pipeline runner (ref: workflow.py:148-871 +
  * main.py). Stages run in the fixed order of [[Workflow.stages]], which
  * follows the reference: ETL → stats_generator → quality_checker →
  * transformers → write_main. Every configured stage is built from its
  * config before the first one runs, and a key that no stage reads, at
  * any depth, fails the run before any data is read. Each stage
  * optionally ends in a write+re-read checkpoint — the reference's
  * deliberate lineage cut (workflow.py:64-88) — and logs wall time.
  */
object Workflow {

  /** `seconds` is the stage handler's wall time: plan building plus any
    * eager fit, `collect` or write the stage runs. A lazy stage's
    * execution lands in the next action, usually write_main.
    */
  final case class StageResult(name: String, seconds: Double, metrics: Map[String, DataFrame])

  private type Metrics = Map[String, DataFrame]

  /** A built stage: the frame it hands on and the metric frames it
    * attaches, or None when it finds nothing to do on this frame
    * (ts_preprocess with no candidate column), which records no stage.
    */
  private type Step = DataFrame => Option[(DataFrame, Metrics)]

  private def transform(f: DataFrame => DataFrame): Step = df => Some((f(df), Map.empty))
  private def attach(f: DataFrame => Metrics): Step = df => Some((df, f(df)))
  private def chain(arms: Seq[DataFrame => DataFrame]): DataFrame => DataFrame =
    df => arms.foldLeft(df)((d, f) => f(d))

  private def asMap(path: String, v: Any): Map[String, Any] = v match {
    case m: java.util.Map[_, _] => m.asScala.map { case (k, x) => k.toString -> x }.toMap
    case null => Map.empty
    case other => throw new IllegalArgumentException(s"$path: expected a mapping, got $other")
  }

  /** A YAML list, or a pipe-separated string. */
  private def listOf(v: Any): Seq[String] = v match {
    case l: java.util.List[_] => l.asScala.map(_.toString).toSeq
    case s => s.toString.split('|').map(_.trim).filter(_.nonEmpty).toSeq
  }

  /** One mapping of the config, read only through these accessors. Each
    * accessor records the key it reads; `unread` then names the dotted
    * path of every key, at any depth, that no accessor read. `map` reads
    * an open mapping (renames, reader options, weights) whole.
    */
  private final class Conf(path: String, raw: Map[String, Any]) {
    private val read = mutable.Set.empty[String]
    private val subs = mutable.LinkedHashMap.empty[String, Conf]
    private def at(k: String) = if (path.isEmpty) k else s"$path.$k"

    def keys: Set[String] = raw.keySet
    def get(k: String): Option[Any] = { read += k; raw.get(k).filter(_ != null) }
    private def need(k: String): Any =
      get(k).getOrElse(throw new IllegalArgumentException(s"missing config key ${at(k)}"))
    private def num[A](k: String)(parse: String => A): Option[A] = strOpt(k).map { s =>
      try parse(s)
      catch { case _: NumberFormatException =>
        throw new IllegalArgumentException(s"${at(k)}: not a number: $s") }
    }

    def str(k: String): String = need(k).toString
    def str(k: String, d: String): String = strOpt(k).getOrElse(d)
    def strOpt(k: String): Option[String] = get(k).map(_.toString)
    def int(k: String, d: Int): Int = intOpt(k).getOrElse(d)
    def intOpt(k: String): Option[Int] = num(k)(_.toInt)
    def long(k: String, d: Long): Long = longOpt(k).getOrElse(d)
    def longOpt(k: String): Option[Long] = num(k)(_.toLong)
    def double(k: String, d: Double): Double = doubleOpt(k).getOrElse(d)
    def doubleOpt(k: String): Option[Double] = num(k)(_.toDouble)
    def bool(k: String, d: Boolean): Boolean = get(k).fold(d) {
      case b: java.lang.Boolean => b
      case v => v.toString.toBoolean
    }
    def strings(k: String): Seq[String] = listOf(need(k))
    def strings(k: String, d: Seq[String]): Seq[String] = stringsOpt(k).getOrElse(d)
    def stringsOpt(k: String): Option[Seq[String]] = get(k).map(listOf)
    def map(k: String): Option[Map[String, String]] =
      get(k).map(v => asMap(at(k), v).map { case (a, x) => a -> x.toString })

    /** A list_of_cols-style selector — a YAML list, a pipe string, or
      * "all" (the default) — resolved against the frame when the stage
      * runs.
      */
    def cols(k: String): String = get(k).fold("all") {
      case l: java.util.List[_] => listOf(l).mkString("|")
      case s => s.toString
    }

    def sub(k: String): Option[Conf] = {
      read += k
      raw.get(k).map(v => subs.getOrElseUpdate(k, new Conf(at(k), asMap(at(k), v))))
    }

    def unread: Seq[String] =
      (raw.keySet -- read).toSeq.sorted.map(at) ++ subs.values.flatMap(_.unread)
  }

  def runFile(spark: SparkSession, path: String): (DataFrame, Seq[StageResult]) =
    run(spark, new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)),
      java.nio.charset.StandardCharsets.UTF_8))

  def run(spark: SparkSession, yamlText: String): (DataFrame, Seq[StageResult]) = {
    val conf = new Conf("", asMap("config", new Yaml().load[Any](yamlText)))
    require(conf.keys("input_dataset"), "missing config key input_dataset")
    val steps = for ((name, key, build) <- stages(spark, conf.keys); c <- conf.sub(key))
      yield name -> build(c)
    val unread = conf.unread
    require(unread.isEmpty, s"unknown config key(s): ${unread.mkString(", ")}")
    // read_dataset ignores the frame it is handed
    var df = spark.emptyDataFrame
    val results = steps.flatMap { case (name, step) =>
      val t0 = System.nanoTime()
      step(df).map { case (out, metrics) =>
        df = out
        StageResult(name, (System.nanoTime() - t0) / 1e9, metrics)
      }
    }
    (df, results)
  }

  /** Every stage in run order: the name its [[StageResult]] carries, the
    * top-level config key it reads, and the handler that reads that
    * config and builds the stage's step.
    */
  private def stages(spark: SparkSession, configured: Set[String])
      : Seq[(String, String, Conf => Step)] = Seq(
    ("read_dataset", "input_dataset", readDataset(spark, _)),
    ("ts_preprocess", "input_dataset", tsPreprocess),
    ("join_dataset", "join_dataset", joinDataset(spark, _)),
    ("asof_join", "asof_join", asofJoin(spark, _)),
    ("changelog_apply", "changelog_apply", changelogApply(spark, _)),
    ("snapshot_diff", "snapshot_diff", snapshotDiff(spark, _)),
    ("stats_generator", "stats_generator", statsGenerator),
    ("quality_checker", "quality_checker", qualityChecker(_, configured)),
    ("text_pipeline", "text_pipeline", textPipeline(spark, _)),
    ("semantic_dedup", "semantic_dedup", semanticDedup),
    ("curation_pipeline", "curation_pipeline", curationPipeline),
    ("url_curation", "url_curation", urlCuration),
    ("tokenize", "tokenize", tokenize(spark, _)),
    ("data_mixture", "data_mixture", dataMixture),
    ("corpus_health", "corpus_health", corpusHealth),
    ("ts_diagnostics", "ts_diagnostics", tsDiagnostics),
    ("build_ann_index", "build_ann_index", buildAnnIndex),
    ("ann_probe", "ann_probe", annProbe(spark, _)),
    ("graph_metrics", "graph_metrics", graphMetrics(spark, _)),
    ("bm25_retrieval", "bm25_retrieval", bm25Retrieval),
    ("heavy_hitters", "heavy_hitters", heavyHitters),
    ("transformers", "transformers", transformers),
    ("association_evaluator", "association_evaluator", associationEvaluator),
    ("geospatial", "geospatial", geospatial),
    ("drift_detector", "drift_detector", driftDetector(spark, _)),
    ("report_preprocessing", "report_preprocessing", reportPreprocessing),
    ("write_intermediate", "write_intermediate", writeIntermediate(spark, _)),
    ("write_main", "write_main", writeMain))

  // ---- input_dataset: the read, then the column ops in this fixed order
  // (workflow.py:45-61): delete, select, rename, recast, then
  // expression_parser's computed columns (name -> Spark-SQL expression)
  private def readDataset(spark: SparkSession, c: Conf): Step = {
    val rd = c.sub("read_dataset").getOrElse(
      throw new IllegalArgumentException("missing config key input_dataset.read_dataset"))
    val (path, fileType) = (rd.str("file_path"), rd.str("file_type", "parquet"))
    val options = rd.map("file_options").getOrElse(Map.empty)
    val ops = Seq[Option[DataFrame => DataFrame]](
      c.stringsOpt("delete_column").map(cs => Ingest.deleteColumn(_, cs)),
      c.stringsOpt("select_column").map(cs => Ingest.selectColumn(_, cs)),
      c.map("rename_column").map(m => Ingest.renameColumn(_, m)),
      c.map("recast_column").map(m => Ingest.recastColumn(_, m)),
      c.map("expression_parser").map(m =>
        m.foldLeft(_) { case (d, (name, e)) => d.withColumn(name, expr(e)) })).flatten
    transform(_ => chain(ops)(Ingest.readDataset(spark, path, fileType, options)))
  }

  // ts_preprocess (ref ts_auto_detection.py:622): detect string timestamp
  // columns from one sampling job and cast them; "auto" probes every
  // string column
  private def tsPreprocess(c: Conf): Step = {
    val v = c.get("ts_preprocess")
    val auto = v.contains("auto")
    val listed = if (auto) Nil else v.map(listOf).getOrElse(Nil)
    df => {
      val cols = if (auto) ColumnRole.categoricalCols(df) else listed
      Option.when(cols.nonEmpty) {
        val detections = AutoDetect.detectTimestampColumns(df, cols)
        // auto probes EVERY string column, so id/phone-named columns
        // that accidentally clear the epoch regex (10 digits starting
        // with '1') must not be destructively rewritten; an explicit
        // column list asserts the caller knows they are times
        (AutoDetect.tsPreprocess(df,
          if (auto) AutoDetect.epochIdGuard(detections) else detections), Map.empty)
      }
    }
  }

  // ---- concatenate / join auxiliary datasets
  private def joinDataset(spark: SparkSession, c: Conf): Step = {
    val (paths, on, how) = (c.strings("paths"), c.strings("join_cols"), c.str("join_type", "inner"))
    transform(df => Ingest.joinDataset(df +: paths.map(spark.read.parquet(_)), on, how))
  }

  // ---- as-of enrichment: join the latest/nearest right-side state row
  // per key at each left timestamp (pandas merge_asof semantics, all
  // directions + tolerance + strict)
  private def asofJoin(spark: SparkSession, c: Conf): Step = {
    val right = c.str("right_path")
    val keys = c.strings("key_cols")
    val leftTs = c.str("left_ts")
    val rightTs = c.str("right_ts", leftTs)
    val values = c.strings("value_cols")
    val direction = c.str("direction", "backward")
    val tolerance = c.doubleOpt("tolerance")
    val exact = c.bool("allow_exact_matches", true)
    transform(df => AsofJoin.asofJoin(df, spark.read.parquet(right),
      keys, leftTs, rightTs, values, direction, tolerance, exact))
  }

  // ---- incremental ETL: CDC changelog apply / snapshot diff against a
  // second input (our additions — MERGE INTO and table-versioning
  // primitives for incremental pipelines)
  private def changelogApply(spark: SparkSession, c: Conf): Step = {
    val (changes, keys) = (c.str("changes_path"), c.strings("key_cols"))
    val (opCol, seqCol) = (c.str("op_col", "op"), c.str("seq_col", "seq"))
    transform(df => Ingest.applyChangelog(df, spark.read.parquet(changes), keys, opCol, seqCol))
  }

  private def snapshotDiff(spark: SparkSession, c: Conf): Step = {
    val (old, keys) = (c.str("old_path"), c.strings("key_cols"))
    transform(df => Ingest.snapshotDiff(spark.read.parquet(old), df, keys))
  }

  private def saveAll(metrics: Metrics, path: String): Unit =
    metrics.foreach { case (name, m) =>
      m.coalesce(1).write.mode("overwrite").parquet(s"$path/$name")
    }

  // ---- stats_generator (metrics attached to the stage result; written
  // out when save_stats_path is configured — ref workflow save_stats)
  private def statsGenerator(c: Conf): Step = {
    val (list, drop) = (c.cols("list_of_cols"), c.strings("drop_cols", Nil))
    // optional `metrics:` list selects which frames to compute (and
    // save); default = all applicable
    val wanted = c.stringsOpt("metrics").map(_.toSet)
    val save = c.strOpt("save_stats_path")
    def want(name: String) = wanted.forall(_.contains(name))
    attach { df =>
      val cols = ColumnSelector.resolve(df, list, drop)
      val (num, cat, _) = ColumnRole.segregate(df.select(cols.map(col): _*).schema)
      val metrics: Metrics = Seq(
        Option.when(want("global_summary"))(
          "global_summary" -> StatsGenerator.globalSummary(df)),
        Option.when(want("measures_of_counts"))(
          "measures_of_counts" -> StatsGenerator.measuresOfCounts(df, cols)),
        Option.when(num.nonEmpty && want("central_tendency"))(
          "central_tendency" -> StatsGenerator.centralTendency(df, num)),
        Option.when(num.nonEmpty && want("dispersion"))(
          "dispersion" -> StatsGenerator.measuresOfDispersion(df, num)),
        Option.when(num.nonEmpty && want("percentiles"))(
          "percentiles" -> StatsGenerator.measuresOfPercentiles(df, num)),
        Option.when(cat.nonEmpty && want("mode"))(
          "mode" -> StatsGenerator.modeComputation(df, cat))).flatten.toMap
      save.foreach(saveAll(metrics, _))
      metrics
    }
  }

  // ---- quality_checker treatments, in this fixed order
  private def qualityChecker(c: Conf, configured: Set[String]): Step = {
    def arm(k: String)(build: Conf => DataFrame => DataFrame) = c.sub(k).map(build)
    // The dedup distinct is the one shuffle in this block, and every
    // downstream FIT action (outlier bounds, MMM median, binning edges,
    // label-encoding frequencies, association / drift metrics,
    // write_main) re-plans the query — Spark SQL gives no shuffle reuse
    // across actions — so without a lineage cut the distinct replays
    // once per fit (measured ~5x on the full configs.yaml composition).
    // Same materialize-not-persist rationale as near_dedup below.
    val fitsFollow = c.keys.exists(_ != "duplicate_detection") ||
      configured.exists(Set("transformers", "association_evaluator", "drift_detector", "write_main"))
    transform(chain(Seq(
      arm("duplicate_detection") { d =>
        val (list, treat) = (d.cols("list_of_cols"), d.bool("treatment", false))
        df => {
          val cols = ColumnSelector.resolve(df, list)
          if (!treat) df
          else {
            val out = QualityChecker.dropDuplicatesOn(df, cols)
            if (fitsFollow) Dedup.materialize(out) else out
          }
        }
      },
      arm("nullRows_detection") { d =>
        val (thr, treat) = (d.double("treatment_threshold", 0.8), d.bool("treatment", false))
        df => if (treat) QualityChecker.nullRowsTreatment(df, df.columns.toSeq, thr) else df
      },
      arm("outlier_detection") { d =>
        val (list, treat) = (d.cols("list_of_cols"), d.bool("treatment", false))
        val method = d.str("treatment_method", "value")
        df => {
          val cols = ColumnSelector.resolve(df, list).filter(ColumnRole.numericCols(df).contains)
          if (treat)
            QualityChecker.outlierTreatment(df, QualityChecker.outlierBounds(df, cols), method)
          else df
        }
      },
      arm("invalidEntries_detection") { d =>
        val (list, treat) = (d.cols("list_of_cols"), d.bool("treatment", false))
        val method = d.str("treatment_method", "null_replacement")
        val thr = d.doubleOpt("treatment_threshold")
        df => {
          val cols = ColumnSelector.resolve(df, list)
          if (treat) QualityChecker.invalidEntriesTreatment(df, cols,
            method = method, treatmentThreshold = thr)
          else df
        }
      },
      arm("nullColumns_detection") { d =>
        val (list, treat) = (d.cols("list_of_cols"), d.bool("treatment", false))
        val method = d.str("treatment_method", "MMM")
        val thr = d.double("treatment_threshold", 0.5)
        val idCol = d.strOpt("id_col")
        df => {
          val cols = ColumnSelector.resolve(df, list)
          if (treat) QualityChecker.nullColumnsDetection(df, cols,
            treatment = method, threshold = thr, idCol = idCol)
          else df
        }
      },
      // ref imputation_MMM(list_of_cols, method_type)
      arm("imputation_MMM") { d =>
        val (list, method) = (d.cols("list_of_cols"), d.str("method_type", "median"))
        df => {
          val cols = ColumnSelector.resolve(df, list)
          val (num, cat, _) = ColumnRole.segregate(df.select(cols.map(col): _*).schema)
          Transformers.imputationMMM(df, num, cat, method)
        }
      }).flatten))
  }

  /** A frame materialized once — it feeds both the candidate-pair path
    * and the caller's final join — and its near-duplicate pairs
    * (key_1, key_2) by n-gram Jaccard within `block_col`. Blockless
    * configs still need the (skew-capped) block join, so they use a
    * constant block.
    */
  private def nearDupPairs(c: Conf): (DataFrame, String, String) => (DataFrame, DataFrame) = {
    val (block, n, thr) = (c.strOpt("block_col"), c.int("ngram", 3), c.double("threshold", 0.5))
    (frame, textCol, idCol) => {
      val df = Dedup.materialize(frame)
      val (src, blk) = block.map(b => (df, b))
        .getOrElse((df.withColumn("__block", lit(1)), "__block"))
      (df, Dedup.ngramJaccardPairs(src, textCol, idCol, blockCol = blk, n = n, threshold = thr)
        .select(col("key_1"), col("key_2")))
    }
  }

  /** Source-mixture sampling under a token budget: explicit per-source
    * `weights`, or temperature weights derived from the per-source
    * token totals when no weights are given.
    */
  private def mixtureSample(c: Conf): (DataFrame, String, String) => DataFrame = {
    val budget = c.long("token_budget", 1000000L)
    val srcCol = c.str("source_col", "source")
    val weights = c.map("weights").map(_.map { case (k, x) => k -> x.toDouble })
    val temperature = c.double("temperature", 0.5)
    val margin = c.doubleOpt("prefilter_margin")
    (df, textCol, idCol) => {
      val toks = TextOps.tokenCount(col(textCol))
      val targets = weights match {
        case Some(w) => Sampling.mixtureTargets(w, budget)
        case None => Sampling.temperatureTargets(df, srcCol, toks, budget, temperature)
      }
      Sampling.mixtureSample(df, srcCol, toks, Seq(idCol), targets, prefilterMargin = margin)
    }
  }

  /** (frame, id column) => frame */
  private type TextArm = (DataFrame, String) => DataFrame

  // ---- text_pipeline: the training-data text stages (quality filter →
  // exact dedup → near-dup treatment → text stats) as one configured
  // block, in this fixed order
  private def textPipeline(spark: SparkSession, c: Conf): Step = {
    val (textCol, idOpt) = (c.str("text_col", "text"), c.strOpt("id_col"))
    def arm(k: String)(build: Conf => TextArm) = c.sub(k).map(build)
    def flag(k: String)(f: TextArm) = Option.when(c.bool(k, false))(f)
    def rewrite(df: DataFrame, idCol: String, cleaned: DataFrame) =
      df.drop(textCol).join(cleaned.withColumnRenamed("text_clean", textCol), Seq(idCol))
    val arms = Seq(
      flag("pii_redaction")((df, _) => df.withColumn(textCol, TextOps.piiRedact(col(textCol)))),
      // corpus-level boilerplate-line removal; docs whose every line was
      // seen earlier drop out entirely
      flag("line_dedup")((df, idCol) => rewrite(df, idCol,
        Dedup.lineDedup(df, textCol, idCol).filter(col("n_kept") > 0)
          .select(col(idCol), col("text_clean")))),
      arm("quality_filter") { q =>
        val minScore = q.double("min_score", 0.5)
        (df, _) => df.withColumn("quality", TextOps.qualityScore(col(textCol)))
          .filter(col("quality") >= minScore)
      },
      flag("gopher_filter")((df, idCol) => df.join(
        TextOps.gopherSignals(df, textCol, idCol).filter(col("passes")).select(col(idCol)),
        Seq(idCol), "left_semi")),
      // Naive Bayes seed-classifier filter (GPT-3-style): the seed labels
      // derive from curated/junk source lists; keep docs scoring at least
      // min_log_odds (default 0 = predicted curated)
      arm("nb_filter") { nb =>
        val srcCol = nb.str("source_col", "source")
        val (pos, neg) = (nb.strings("positive_sources"), nb.strings("negative_sources"))
        val minLo = nb.double("min_log_odds", 0.0)
        (df, idCol) => {
          val seed = df.filter(col(srcCol).isin(pos ++ neg: _*))
            .select(col(idCol), when(col(srcCol).isin(pos: _*), 1).otherwise(0).as("label"))
          val keep = TextOps.nbSeedClassifier(df, textCol, idCol, seed)
            .filter(col("log_odds") >= minLo).select(col(idCol))
          df.join(keep, Seq(idCol), "left_semi")
        }
      },
      flag("exact_dedup")((df, idCol) => Dedup.exactDedup(df, textCol, idCol)),
      // incremental near-dup drop against a persisted MinHash band index
      // (built by build_dedup_index in an earlier run): the corpus side is
      // never re-hashed — the new frame probes the saved buckets and
      // flagged docs drop via anti-join. Materialize first: the probe side
      // and the anti-join's left side would otherwise each replay the
      // upstream stage chain (same rationale as near_dedup)
      arm("dedup_against_index") { ic =>
        val index = ic.str("index_path")
        val (shingle, hashes) = (ic.int("shingle_size", 3), ic.int("num_hashes", 16))
        val (bands, thr) = (ic.int("bands", 4), ic.double("threshold", 0.7))
        Dedup.checkBanding(hashes, bands)
        (frame, idCol) => {
          val df = Dedup.materialize(frame)
          val flagged = Dedup.dedupAgainstIndexMd5(df, spark.read.parquet(index), textCol, idCol,
            shingleSize = shingle, numHashes = hashes, bands = bands, threshold = thr)
            .filter(col("is_dup")).select(col("key").as(idCol))
          df.join(flagged, Seq(idCol), "left_anti")
        }
      },
      // persist the band index of the CURRENT frame (post-filter,
      // post-dedup) so the next batch can probe it. When the path already
      // holds an index (the incremental loop: probe batch N against it,
      // then fold batch N in), the new rows UNION the existing ones —
      // re-capped, since a bucket can cross the cap cumulatively — and the
      // result is materialized before the overwrite (writing a frame whose
      // lineage still reads the path being overwritten is an
      // AnalysisException).
      arm("build_dedup_index") { bc =>
        val path = bc.str("path")
        val (shingle, hashes) = (bc.int("shingle_size", 3), bc.int("num_hashes", 16))
        val (bands, cap) = (bc.int("bands", 4), bc.int("max_bucket_size", 200))
        Dedup.checkBanding(hashes, bands)
        (frame, idCol) => {
          val df = Dedup.materialize(frame)
          val fresh = Dedup.minhashIndexMd5(df, textCol, idCol,
            shingleSize = shingle, numHashes = hashes, bands = bands, maxBucketSize = cap)
          val exists = try !spark.read.parquet(path).isEmpty
            catch { case _: org.apache.spark.sql.AnalysisException => false }
          val combined = if (exists) {
            val old = spark.read.parquet(path)
            Dedup.validateIndex(old, shingle, hashes, bands)
            Dedup.capGroups(old.unionByName(fresh).dropDuplicates("band", "bucket", "key"),
              Seq("band", "bucket"), cap)
          } else fresh
          Dedup.materialize(combined.select(
              col("band"), col("bucket"), col("key"), col("sig"), col("shingle_n")))
            .write.mode("overwrite").parquet(path)
          df
        }
      },
      // exact-substring span removal (Lee et al. 2021): rewrite the text
      // column with cross-doc duplicated token ranges dropped
      arm("span_dedup") { sd =>
        val (window, minDf) = (sd.int("window_tokens", 50), sd.int("min_doc_freq", 2))
        (df, idCol) => rewrite(df, idCol, Dedup.removeDuplicateSpans(df, textCol, idCol,
          windowTokens = window, minDocFreq = minDf).select(col(idCol), col("text_clean")))
      },
      // the frame here (post-filter, post-exact-dedup) feeds BOTH the
      // candidate-pair path (shingle expansion → clusters, whose
      // pointer-jumping runs its own actions) and the final drop-anti-join
      // — without materialization the whole upstream quality-score +
      // dedup-window chain replays once per consumer (measured ~1 s of the
      // q_workflow_text cost at sf0.1; linear in corpus size at scale).
      // localCheckpoint, NOT persist(): a persist registers in the session
      // CacheManager and nothing in a lazy workflow can safely unpersist
      // it, leaking cached blocks across repeated Workflow.run calls in a
      // long-lived session — checkpoint blocks are reclaimed by the
      // ContextCleaner once the returned frame is unreachable.
      arm("near_dedup") { nd =>
        val pairsOf = nearDupPairs(nd)
        (frame, idCol) => {
          val (df, pairs) = pairsOf(frame, textCol, idCol)
          Dedup.dropNearDuplicates(df, idCol, Dedup.duplicateClusters(pairs))
        }
      },
      arm("deterministic_sample") { f =>
        val fraction = f.double("fraction", 0.1)
        (df, idCol) => Sampling.deterministicSample(df, fraction, Seq(idCol))
      },
      arm("stratified_sample") { sc =>
        val (fraction, strata) = (sc.double("fraction", 0.1), sc.strings("strata_cols"))
        val mode = sc.str("mode", "population")
        (df, idCol) => Sampling.deterministicStratifiedSample(df, fraction, strata, Seq(idCol), mode)
      },
      arm("mixture_sample") { mc =>
        val sample = mixtureSample(mc)
        (df, idCol) => sample(df, textCol, idCol)
      },
      flag("text_stats")((df, _) => df
        .withColumn("n_tokens", TextOps.tokenCount(col(textCol)))
        .withColumn("lang_pred", TextOps.langId(col(textCol)))),
      // per-language head/middle/tail tertiles over a score column already
      // on the frame (e.g. quality from quality_filter)
      arm("ccnet_buckets") { cb =>
        val (scoreCol, langCol) = (cb.str("score_col", "quality"), cb.str("lang_col", "lang"))
        (df, idCol) => {
          require(df.columns.contains(scoreCol) && df.columns.contains(langCol),
            s"ccnet_buckets needs '$scoreCol' and '$langCol' on the frame")
          TextOps.perplexityBuckets(df, scoreCol, idCol, langCol)
        }
      },
      c.longOpt("shard_budget").map { budget => (df: DataFrame, idCol: String) =>
        val withTok =
          if (df.columns.contains("n_tokens")) df
          else df.withColumn("n_tokens", TextOps.tokenCount(col(textCol)))
        Sharding.packByBudget(withTok, "n_tokens", Seq(idCol), budget)
      }).flatten
    transform { df =>
      val idCol = idOpt.getOrElse(df.columns.head)
      arms.foldLeft(df)((d, f) => f(d, idCol))
    }
  }

  // ---- semantic_dedup: SemDeDup over an embedding column — keep one
  // survivor (min id) per semantic duplicate component. Stage-level so
  // embedding tables can dedup without the text pipeline.
  private def semanticDedup(c: Conf): Step = {
    val (idOpt, vecCol) = (c.strOpt("id_col"), c.str("vec_col", "embedding"))
    val thr = c.double("threshold", 0.95)
    val (cells, maxCell) = (c.int("cell_count", 0), c.int("max_cell_size", 100000))
    transform { df =>
      val idCol = idOpt.getOrElse(df.columns.head)
      val labels = Similarity.semanticDedup(df, idCol, vecCol,
        threshold = thr, cellCount = cells, maxCellSize = maxCell)
      df.join(labels.filter(col("kept")).select(col("vec_id").as(idCol)), Seq(idCol), "left_semi")
    }
  }

  // ---- curation_pipeline: the LLM-pretraining curation trio as one
  // configured block, composing AFTER text_pipeline the way a real data
  // pipeline runs (filter/dedup first, then select toward the target
  // domain, then split): DSIR importance selection keeps all
  // target-domain docs plus the keep_k most target-like raw-pool docs
  // (deterministic Gumbel-top-k — the md5-seeded uniform idiom, no RNG);
  // leakage_split assigns train/test so a near-dup cluster never
  // straddles the boundary; source_overlap attaches the dense
  // cross-source Jaccard matrix as a stage metric.
  private def curationPipeline(c: Conf): Step = {
    val (textCol, idOpt) = (c.str("text_col", "text"), c.strOpt("id_col"))
    val dsir: Option[TextArm] = c.sub("dsir_select").map { dc =>
      val (targetCol, targetValue) = (dc.str("target_col", "lang"), dc.str("target_value", "en"))
      val (keepK, buckets) = (dc.int("keep_k", 1000), dc.int("num_buckets", 8192))
      (frame, idCol) => {
        val isTarget = col(targetCol) === lit(targetValue)
        // three consumers (target half, score fit, selected semi-join):
        // materialize once so the upstream stage chain replays once; widen
        // first so the DSIR feature explosion doesn't run on a single scan
        // task when the input is one small parquet file
        val df = Dedup.materialize(Dedup.widenForCompute(frame))
        val scores = ImportanceSampling.dsirScores(df, textCol, idCol, isTarget, numBuckets = buckets)
        // deterministic Gumbel-top-k on the 1e-4-ROUNDED key: a cross-
        // engine ln() ulp difference can't flip a rounded boundary, so the
        // SELECTED SET is oracle-replayable (ties break on id). limit()
        // plans as a distributed TakeOrdered, never a global sort.
        val u = GraftFunctions.md5Uniform(col("id"))
        val picked = scores
          .withColumn("gumbel_key", round(col("score") - log(-log(u)), 4))
          .orderBy(col("gumbel_key").desc, col("id").asc)
          .limit(keepK)
          .select(col("id").as(idCol))
        df.filter(isTarget).unionByName(df.join(picked, Seq(idCol), "left_semi"))
      }
    }
    val split: Option[TextArm] = c.sub("leakage_split").map { lc =>
      val pairsOf = nearDupPairs(lc)
      // ordered "name:frac" list — split thresholds are CUMULATIVE, so the
      // config must pin the order (a YAML mapping wouldn't)
      val weights = lc.stringsOpt("weights")
        .map(_.map { w =>
          val Array(k, f) = w.split(':')
          k.trim -> f.trim.toDouble
        })
        .getOrElse(Seq("train" -> 0.8, "test" -> 0.2))
      (frame, idCol) => {
        val (df, pairs) = pairsOf(frame, textCol, idCol)
        Dedup.leakageSafeSplit(df, idCol, pairs, weights)
      }
    }
    val overlap = c.sub("source_overlap").map { oc =>
      val (srcCol, n, maxSources) =
        (oc.str("source_col", "source"), oc.int("ngram", 3), oc.int("max_sources", 64))
      (df: DataFrame) => Dedup.sourceOverlap(df, textCol, srcCol, n = n, maxSources = maxSources)
    }
    df => {
      val idCol = idOpt.getOrElse(df.columns.head)
      val out = Seq(dsir, split).flatten.foldLeft(df)((d, f) => f(d, idCol))
      Some((out, overlap.map(f => "source_overlap" -> f(out)).toMap))
    }
  }

  // ---- url_curation: the crawl-side page-identity passes as ONE
  // configured stage, running BEFORE any text-level dedup the way a real
  // pipeline orders them: canonical-form URL dedup (one page, one row),
  // then the per-registrable-domain document quota; the per-domain rollup
  // attaches as a stage metric. Adds url_canon and domain columns to the
  // frame.
  private def urlCuration(c: Conf): Step = {
    val (urlCol, idOpt) = (c.str("url_col", "url"), c.strOpt("id_col"))
    val rollupText = c.sub("domain_rollup").map(_.str("text_col", "text"))
    val (dedup, cap, salt) = (c.bool("dedup", true), c.intOpt("max_docs_per_domain"), c.str("salt", ""))
    df => {
      val idCol = idOpt.getOrElse(df.columns.head)
      val metrics = rollupText.map(t => "domain_rollup" -> UrlOps.domainRollup(df, urlCol, t)).toMap
      val canon = df
        .withColumn("url_canon", UrlOps.canonicalizeUrl(col(urlCol)))
        .withColumn("domain", UrlOps.registrableDomain(UrlOps.hostOf(col(urlCol))))
      val deduped = if (dedup) UrlOps.urlDedup(canon, urlCol, idCol) else canon
      Some((cap.fold(deduped)(UrlOps.capPerDomain(deduped, urlCol, idCol, _, salt)), metrics))
    }
  }

  // ---- tokenize: tokenizer train+apply as a configured stage — learn a
  // BPE merge table, a WordPiece vocabulary or a unigram-LM vocabulary
  // from the frame's text, then add tokens / n_tokens_<algo> columns
  // through a native encode expression. The learned table attaches as a
  // stage metric.
  private def tokenize(spark: SparkSession, c: Conf): Step = {
    import spark.implicits._
    val (textCol, keep) = (c.str("text_col", "text"), c.bool("keep_tokens", true))
    val algo = c.str("algo", "bpe")
    // fail fast on a typo'd algo: a silent fall-through to BPE would ship
    // the wrong tokenizer with no signal
    require(algo == "bpe" || algo == "unigram" || algo == "wordpiece",
      s"tokenize.algo must be 'bpe', 'unigram' or 'wordpiece', got '$algo'")
    // each algo reads its own knobs; on the frame it trains and returns
    // (metric name, learned table, token column)
    val train: DataFrame => (String, DataFrame, Column) = algo match {
      case "wordpiece" =>
        // likelihood-scored merges (Schuster & Nakajima 2012) + greedy
        // longest-match inference over the induced piece vocabulary
        val (numMerges, minPairFreq) = (c.int("num_merges", 64), c.long("min_pair_freq", 2L))
        val maxWordLen = c.int("max_word_len", 32)
        df => {
          val merges = WordPieceTokenizer.trainMerges(df, textCol,
            numMerges = numMerges, minPairFreq = minPairFreq, maxWordLen = maxWordLen)
          // same greedy segmenter pieceEncode wraps, as a column so the
          // stage stays map-only with every input column carried through
          val vocab = WordPieceTokenizer.vocabFromMerges(merges)
          ("wordpiece_merges",
            merges.map(m => (m.rank, m.lhs, m.rhs, m.lhs + m.rhs, m.pairCount, m.score))
              .toDF("rank", "lhs", "rhs", "merged", "pair_count", "score"),
            GraftFunctions.pieceEncode(TextOps.normalizeText(col(textCol)),
              vocab.mkString("\n"), maxWordLen))
        }
      case "unigram" =>
        // unigram-LM (SentencePiece Viterbi-EM) train + encode
        val (vocabSize, rounds) = (c.int("vocab_size", 64), c.int("rounds", 2))
        val (maxPieceLen, maxWordLen) = (c.int("max_piece_len", 4), c.int("max_word_len", 10))
        val (minSeedCount, seedSize) = (c.long("min_seed_count", 3L), c.int("seed_size", 300))
        df => {
          val vocab = UnigramTokenizer.trainUnigram(df, textCol, vocabSize = vocabSize,
            rounds = rounds, maxPieceLen = maxPieceLen, maxWordLen = maxWordLen,
            minSeedCount = minSeedCount, seedSize = seedSize)
          ("unigram_vocab",
            vocab.map(p => (p.rank, p.piece, p.n, p.logp)).toDF("rank", "piece", "n", "logp"),
            UnigramTokenizer.unigramTokens(col(textCol), vocab, maxWordLen = maxWordLen))
        }
      case _ =>
        val (numMerges, minPairFreq) = (c.int("num_merges", 64), c.long("min_pair_freq", 2L))
        val (maxWordLen, perRound) = (c.int("max_word_len", 32), c.int("merges_per_round", 1))
        df => {
          val merges = BpeTokenizer.trainMerges(df, textCol, numMerges,
            minPairFreq = minPairFreq, maxWordLen = maxWordLen, mergesPerRound = perRound)
          ("bpe_merges",
            merges.map(m => (m.rank, m.lhs, m.rhs, m.lhs + m.rhs, m.pairCount))
              .toDF("rank", "lhs", "rhs", "merged", "pair_count"),
            GraftFunctions.bpeEncode(TextOps.normalizeText(col(textCol)),
              BpeTokenizer.mergesSpec(merges), maxWordLen))
        }
    }
    df => {
      val (name, table, tokens) = train(df)
      val out = df.withColumn("tokens", tokens).withColumn(s"n_tokens_$algo", size(col("tokens")))
      Some((if (keep) out else out.drop("tokens"), Map(name -> table)))
    }
  }

  // ---- data_mixture: the pretraining data-mix step as ONE configured
  // stage, composing after curation the way a real pipeline ships:
  // per-source token targets (explicit DoReMi weights, or XLM-R
  // temperature weights derived from the corpus), the budgeted
  // deterministic mixture sample, then the shuffled-shard assignment that
  // fixes the reproducible training order for the shard write.
  private def dataMixture(c: Conf): Step = {
    val (textCol, idOpt) = (c.str("text_col", "text"), c.strOpt("id_col"))
    val sample = mixtureSample(c)
    val shards = c.sub("shuffled_shards").map(sc => (sc.int("n_shards", 16), sc.str("salt", "")))
    transform { df =>
      val idCol = idOpt.getOrElse(df.columns.head)
      val out = sample(df, textCol, idCol)
      shards.fold(out) { case (n, salt) => Sharding.shuffledShards(out, idCol, n, salt) }
    }
  }

  // ---- corpus_health: corpus-level distribution diagnostics — Zipf
  // vocabulary fit, length-mass Gini, source concentration (HHI/top
  // share) — attached as stage metrics; the frame flows through.
  private def corpusHealth(c: Conf): Step = {
    val (textCol, topV) = (c.str("text_col", "text"), c.int("top_v", 100))
    val lengthCol = c.strOpt("length_col")
    val (srcCol, weightCol) = (c.strOpt("source_col"), c.strOpt("weight_col"))
    attach { df =>
      Map("zipf_fit" -> TextOps.zipfFit(df, textCol, topV)) ++
        lengthCol.map(l => "length_gini" -> StatsGenerator.giniCoefficient(df, Seq(l))) ++
        (for (s <- srcCol; w <- weightCol)
          yield "source_concentration" -> StatsGenerator.hhiConcentration(df, s, w))
    }
  }

  // ---- ts_diagnostics: the time-series diagnostic quartet over the
  // frame's (ts, value) — seasonal decomposition, ACF/PACF, CUSUM —
  // attached as stage metrics; the frame flows through unchanged.
  private def tsDiagnostics(c: Conf): Step = {
    val (tsCol, valCol) = (c.str("ts_col", "ts"), c.str("value_col", "value"))
    val series = c.strings("series_cols", Nil)
    require(series.nonEmpty, "ts_diagnostics needs series_cols")
    val (period, maxLag) = (c.int("period", 7), c.int("max_lag", 7))
    val (decompose, acf) = (c.bool("decompose", true), c.bool("acf", true))
    val (pacf, cusum) = (c.bool("pacf", false), c.bool("cusum", true))
    val cusumThr = c.double("cusum_threshold", 5.0)
    attach { df =>
      Seq(
        Option.when(decompose)("seasonal_decompose" ->
          DatetimeOps.seasonalDecompose(df, tsCol, valCol, series, period)),
        Option.when(acf)("acf" -> DatetimeOps.autocorrelation(df, tsCol, valCol, series, maxLag)),
        Option.when(pacf)("pacf" ->
          DatetimeOps.partialAutocorrelation(df, tsCol, valCol, series, math.min(maxLag, 5))),
        Option.when(cusum)("cusum" ->
          DatetimeOps.cusumChangepoints(df, tsCol, valCol, series, cusumThr))).flatten.toMap
    }
  }

  // ---- build_ann_index: persist an IVF-PQ serving index (model + salted
  // inverted code lists) of the current frame's embedding column, so
  // later runs can probe it without re-reading this corpus.
  // Rebuild-on-write semantics (the fit must see the whole corpus; an
  // incremental code append against stale centroids would skew
  // assignments — unlike the band index, which is fit-free).
  private def buildAnnIndex(c: Conf): Step = {
    val (idOpt, vecCol, path) = (c.strOpt("id_col"), c.str("vec_col", "embedding"), c.str("path"))
    val (cells, m, ksub) = (c.int("cell_count", 8), c.int("subspaces", 4), c.int("codebook_size", 16))
    transform { df =>
      val (model, lists) = Similarity.buildIvfPqIndex(df, idOpt.getOrElse(df.columns.head),
        vecCol, cellCount = cells, m = m, ksub = ksub)
      model.write.mode("overwrite").parquet(s"$path/model")
      lists.write.mode("overwrite").parquet(s"$path/lists")
      df
    }
  }

  // ---- ann_probe: query a SAVED IVF-PQ index with the current frame's
  // vectors. With `max_dist` set, rows whose ADC distance to any stored
  // neighbor is within the radius DROP (semantic near-dups of the indexed
  // corpus — the embedding-space analog of dedup_against_index);
  // otherwise the top-k neighbor frame attaches as a stage metric and the
  // frame flows through unchanged.
  private def annProbe(spark: SparkSession, c: Conf): Step = {
    val (idOpt, vecCol, path) =
      (c.strOpt("id_col"), c.str("vec_col", "embedding"), c.str("index_path"))
    val (k, nprobe, maxDist) = (c.int("k", 3), c.int("nprobe", 3), c.doubleOpt("max_dist"))
    df => {
      val idCol = idOpt.getOrElse(df.columns.head)
      val model = spark.read.parquet(s"$path/model")
      val lists = spark.read.parquet(s"$path/lists")
      Some(maxDist match {
        case Some(radius) =>
          val probeSide = Dedup.materialize(df)
          // serving has no self-exclusion, so a probe frame whose id space
          // overlaps the indexed corpus (e.g. the corpus probing its own
          // freshly built index) would match every row to its OWN stored
          // entry at the ADC floor and silently drop the whole frame.
          // Retrieve k=2 and discard the self row first — the drop
          // decision then rests on the nearest OTHER stored neighbor.
          val hit = Similarity.annAgainstIndex(
            probeSide, idCol, vecCol, model, lists, k = 2, nprobe = nprobe)
            .filter(col("neighbor_id") =!= col("query_id"))
            .filter(col("adist") <= radius)
            .select(col("query_id").as(idCol))
          (probeSide.join(hit, Seq(idCol), "left_anti"), Map.empty)
        case None =>
          (df, Map("ann_topk" ->
            Similarity.annAgainstIndex(df, idCol, vecCol, model, lists, k = k, nprobe = nprobe)))
      })
    }
  }

  /** (edges, src column, dst column) => metric frame */
  private type GraphArm = (DataFrame, String, String) => DataFrame

  // ---- graph_metrics: PageRank / triangle counts / ... over an edge list
  // — either a separate parquet edge table (edges_path) or the current
  // frame's two key columns. Results attach as stage metrics (the
  // drift_detector pattern); the frame flows through unchanged.
  private def graphMetrics(spark: SparkSession, c: Conf): Step = {
    val edgesPath = c.strOpt("edges_path")
    val (rawSrc, rawDst) = (c.str("src_col", "src"), c.str("dst_col", "dst"))
    def arm(k: String)(build: Conf => GraphArm) = c.sub(k).map(a => k -> build(a))
    def flag(k: String)(f: GraphArm) = Option.when(c.bool(k, false))(k -> f)
    // project_bipartite turns MEMBERSHIP rows (src_col = left group,
    // dst_col = right member) into the weighted co-occurrence graph, and
    // every later arm runs ON THE PROJECTION (lo/hi/w) — the
    // membership→graph→metrics pipeline as one YAML stage
    val projection = arm("project_bipartite") { p =>
      val (maxPerGroup, salt) = (p.int("max_per_group", 64), p.str("salt", ""))
      Graph.projectBipartite(_, _, _, maxPerGroup = maxPerGroup, salt = salt)
    }
    val arms = Seq(
      arm("pagerank") { p =>
        val (iterations, damping) = (p.int("iterations", 5), p.double("damping", 0.85))
        val weightCol = p.str("weight_col", "")
        Graph.pageRank(_, _, _, iterations = iterations, damping = damping, weightCol = weightCol)
      },
      // seeds: an inline YAML id list (the curation allowlist case) or a
      // parquet of ids (data-sized seed sets) — exactly one
      arm("personalized_pagerank") { p =>
        val (seeds, seedsPath) = (p.stringsOpt("seeds"), p.strOpt("seeds_path"))
        require(seeds.isDefined != seedsPath.isDefined,
          "graph_metrics.personalized_pagerank needs exactly one of seeds / seeds_path")
        val (iterations, damping) = (p.int("iterations", 4), p.double("damping", 0.85))
        val weightCol = p.str("weight_col", "")
        (edges, src, dst) => {
          import spark.implicits._
          val seedFrame = seeds.fold(spark.read.parquet(seedsPath.get))(_.map(_.toLong).toDF("node"))
          Graph.personalizedPageRank(edges, seedFrame, src, dst,
            iterations = iterations, damping = damping, weightCol = weightCol)
        }
      },
      arm("hits") { h =>
        val (iterations, rescaleEvery) = (h.int("iterations", 5), h.int("rescale_every", 2))
        Graph.hits(_, _, _, iterations = iterations, rescaleEvery = rescaleEvery)
      },
      arm("k_core") { kc =>
        val (k, rounds) = (kc.int("k", 2), kc.int("rounds", 5))
        Graph.kCore(_, _, _, k = k, rounds = rounds)
      },
      arm("connected_components") { cc =>
        val rounds = cc.int("rounds", 5)
        Graph.connectedComponents(_, _, _, rounds = rounds)
      },
      arm("label_propagation") { lp =>
        val rounds = lp.int("rounds", 4)
        Graph.labelPropagation(_, _, _, rounds = rounds)
      },
      arm("louvain") { lc =>
        val (rounds, weightCol, levels) = (lc.int("rounds", 4), lc.str("weight_col", ""), lc.int("levels", 1))
        (edges, src, dst) =>
          if (levels <= 1) Graph.louvainCommunities(edges, src, dst, rounds = rounds, weightCol = weightCol)
          else Graph.louvainMultiLevel(edges, src, dst,
            levels = levels, roundsPerLevel = rounds, weightCol = weightCol)
      },
      arm("community_profile") { cp =>
        val (rounds, weightCol) = (cp.int("rounds", 4), cp.str("weight_col", ""))
        (edges, src, dst) => Graph.communityProfile(edges,
          Graph.louvainCommunities(edges, src, dst, rounds = rounds, weightCol = weightCol),
          src, dst, weightCol = weightCol)
      },
      arm("neighborhood") { nc =>
        val (radius, quantile) = (nc.int("radius", 3), nc.double("quantile", 0.9))
        val (approx, lgK) = (nc.bool("approx", false), nc.int("lg_k", 12))
        (edges, src, dst) =>
          if (approx) Graph.neighborhoodFunctionApprox(edges, src, dst,
            radius = radius, lgK = lgK, quantile = quantile)
          else Graph.neighborhoodFunction(edges, src, dst, radius, quantile)
      },
      arm("random_walks") { wc =>
        val (length, perNode) = (wc.int("length", 3), wc.int("walks_per_node", 1))
        val (maxNeighbors, salt) = (wc.int("max_neighbors", 32), wc.str("salt", ""))
        Graph.randomWalks(_, _, _, walkLength = length, walksPerNode = perNode,
          maxNeighbors = maxNeighbors, salt = salt)
      },
      arm("harmonic") { hc =>
        val (radius, approx, lgK) = (hc.int("radius", 3), hc.bool("approx", false), hc.int("lg_k", 12))
        (edges, src, dst) =>
          if (approx) Graph.harmonicCentralityApprox(edges, src, dst, radius = radius, lgK = lgK)
          else Graph.harmonicCentrality(edges, src, dst, radius)
      },
      flag("triangle_counts")(Graph.triangleCounts(_, _, _)),
      flag("summary")(Graph.graphSummary(_, _, _))).flatten
    attach { df =>
      val rawEdges = edgesPath.fold(df)(spark.read.parquet(_))
      val (edges, src, dst, projected) = projection match {
        case Some((name, f)) =>
          val proj = f(rawEdges, rawSrc, rawDst)
          (proj, "lo", "hi", Map(name -> proj))
        case None => (rawEdges, rawSrc, rawDst, Map.empty[String, DataFrame])
      }
      projected ++ arms.map { case (name, f) => name -> f(edges, src, dst) }
    }
  }

  // ---- bm25_retrieval: rank the frame's text column against the
  // configured query strings (query ids = list position); top-k per query
  // attaches as a stage metric.
  private def bm25Retrieval(c: Conf): Step = {
    val (textCol, idOpt) = (c.str("text_col", "text"), c.strOpt("id_col"))
    val queries = c.strings("queries").zipWithIndex.map { case (q, i) => (i.toLong, q) }
    val (k, k1, b) = (c.int("k", 10), c.double("k1", 1.2), c.double("b", 0.75))
    attach(df => Map("bm25_topk" -> TextOps.bm25TopK(
      df, textCol, idOpt.getOrElse(df.columns.head), queries, k = k, k1 = k1, b = b)))
  }

  // ---- heavy_hitters: Misra-Gries top values per configured column
  // (native bounded-state aggregate — one metric frame per column).
  private def heavyHitters(c: Conf): Step = {
    val (k, list) = (c.int("k", 20), c.cols("list_of_cols"))
    attach(df => ColumnSelector.resolve(df, list)
      .map(name => s"heavy_hitters_$name" -> TextOps.heavyHitters(df, name, k)).toMap)
  }

  // ---- transformers, in this fixed order
  private def transformers(c: Conf): Step = {
    def arm(k: String)(build: Conf => DataFrame => DataFrame) = c.sub(k).map(build)
    transform(chain(Seq(
      arm("attribute_binning") { d =>
        val (cols, method, bins) =
          (d.strings("list_of_cols"), d.str("method_type", "equal_range"), d.int("bin_size", 10))
        Transformers.attributeBinning(_, cols, method, bins)
      },
      arm("z_standardization") { d =>
        val cols = d.strings("list_of_cols")
        Transformers.zStandardization(_, cols)
      },
      arm("normalization") { d =>
        val cols = d.strings("list_of_cols")
        Transformers.normalization(_, cols)
      },
      arm("cat_to_num_unsupervised") { d =>
        val cols = d.strings("list_of_cols")
        Transformers.labelEncoding(_, cols)
      },
      // ref configs.yaml cat_to_num_transformer method_type: supervised
      // (target encoding against a label/event pair)
      arm("cat_to_num_supervised") { d =>
        val (cols, label, event) =
          (d.strings("list_of_cols"), d.str("label_col"), d.str("event_label", "1"))
        Transformers.catToNumTransformer(_, cols, labelCol = Some(label), eventLabel = event)
      },
      arm("outlier_categories") { d =>
        val (cols, max) = (d.strings("list_of_cols"), d.int("max_category", 10))
        Transformers.outlierCategories(_, cols, max)
      },
      arm("feature_transformation") { d =>
        val (cols, method) = (d.strings("list_of_cols"), d.str("method_type", "ln"))
        cols.foldLeft(_)((df, name) =>
          df.withColumn(name, Transformers.featureTransformation(col(name), method)))
      },
      arm("boxcox_transformation") { d =>
        val cols = d.strings("list_of_cols")
        Transformers.boxcoxTransformation(_, cols)._1
      },
      arm("quantile_transform") { d =>
        val (cols, n) = (d.strings("list_of_cols"), d.int("n_quantiles", 101))
        Transformers.quantileTransform(_, cols, n)
      },
      arm("imputation_sklearn") { d =>
        val (list, method) = (d.cols("list_of_cols"), d.str("method_type", "regression"))
        df => {
          val cols = ColumnSelector.resolve(df, list).filter(ColumnRole.numericCols(df).contains)
          if (method == "KNN") KnnImputer.imputationKnn(df, cols)
          else IterativeImputer.imputationIterative(df, cols)
        }
      }).flatten))
  }

  // ---- association_evaluator (metrics attached to the stage result)
  private def associationEvaluator(c: Conf): Step = {
    def arm(k: String)(build: Conf => DataFrame => Option[DataFrame]) =
      c.sub(k).map(a => k -> build(a))
    def numeric(df: DataFrame, list: String) =
      ColumnSelector.resolve(df, list).filter(ColumnRole.numericCols(df).contains)
    def labelled(measure: (DataFrame, Seq[String], Column) => DataFrame)(d: Conf) = {
      val (label, event, list) = (d.str("label_col"), d.str("event_label", "1"), d.cols("list_of_cols"))
      (df: DataFrame) =>
        Some(measure(df, ColumnSelector.resolve(df, list, Seq(label)), col(label) === event))
    }
    val arms = Seq(
      arm("correlation_matrix") { d =>
        val list = d.cols("list_of_cols")
        df => Some(numeric(df, list)).filter(_.size >= 2).map(Association.correlationMatrix(df, _))
      },
      arm("IV_calculation")(labelled(Association.ivCalculation)),
      arm("IG_calculation")(labelled(Association.igCalculation)),
      arm("spearman_matrix") { d =>
        val list = d.cols("list_of_cols")
        df => Some(numeric(df, list)).filter(_.size >= 2).map(Association.spearmanMatrix(df, _))
      },
      arm("cat_association") { d =>
        val list = d.cols("list_of_cols")
        df => Some(ColumnSelector.resolve(df, list)).filter(_.size >= 2)
          .map(Association.catAssociation(df, _))
      },
      arm("correlation_ratio") { d =>
        val (cats, nums) = (d.cols("cat_cols"), d.cols("num_cols"))
        df => {
          val (cs, ns) = (ColumnSelector.resolve(df, cats), numeric(df, nums))
          Option.when(cs.nonEmpty && ns.nonEmpty)(Association.correlationRatio(df, cs, ns))
        }
      }).flatten
    attach(df => arms.flatMap { case (name, f) => f(df).map(name -> _) }.toMap)
  }

  // ---- geospatial (ref workflow geospatial_controller analog)
  private def geospatial(c: Conf): Step = {
    val (lat, lon) = (c.strOpt("lat_col"), c.strOpt("lon_col")) match {
      case (Some(la), Some(lo)) => (la, lo)
      case _ => throw new IllegalArgumentException("geospatial stage needs lat_col and lon_col")
    }
    val flags = c.strings("country_flags", Nil)
    transform(chain(Seq[Option[DataFrame => DataFrame]](
      c.intOpt("geohash_precision").map(p => df =>
        df.withColumn("geohash", GraftFunctions.geohashEncode(
          GraftFunctions.exactCol(lat).cast("double"),
          GraftFunctions.exactCol(lon).cast("double"), p))),
      // single-match variant: overlapping boxes must not multiply the
      // frame's cardinality for every downstream stage
      Option.when(c.bool("in_country", false))(Geo.locationCountry(_, lat, lon)),
      Some(df => flags.foldLeft(df)((d, code) =>
        d.withColumn(s"in_$code", Geo.locationInCountry(col(lat), col(lon), code)))),
      // both halves of the ref's cluster analysis
      // (geospatial_analyzer.py:390-733)
      c.intOpt("cluster_kmeans").map(k => Geo.clusterAnalysis(_, lat, lon, maxK = k)._2),
      Option.when(c.bool("cluster_dbscan", false))(
        Geo.dbscanClusterAnalysis(_, lat, lon).labeled)).flatten))
  }

  // ---- drift_detector (target = current df, source read from path)
  private def driftDetector(spark: SparkSession, c: Conf): Step = {
    val (path, list, bins) = (c.str("source_path"), c.cols("list_of_cols"), c.int("bin_size", 10))
    attach { df =>
      val source = spark.read.parquet(path)
      val cols = ColumnSelector.resolve(df, list).filter(ColumnRole.numericCols(df).contains)
      Map("drift_statistics" -> Drift.driftStatistics(source, df, cols, bins))
    }
  }

  // ---- report_preprocessing: the full BasicReport stats tables,
  // optionally persisted (the reference's chart-feeding stage), with
  // optional chart-DATA frames alongside them (the reference's plot_*
  // precompute layer, figures excluded)
  private def reportPreprocessing(c: Conf): Step = {
    val frequency = c.strings("frequency_cols", Nil)
    val outlier = c.sub("outlier_chart")
      .map(o => (o.str("col"), o.strings("key_cols"), o.long("sample_size", 500000L)))
    val eventRate = c.sub("event_rate_chart")
      .map(e => (e.str("col"), e.str("label_col"), e.str("event")))
    val save = c.strOpt("save_path")
    attach { df =>
      val charts =
        frequency.map(f => s"chart_frequency_$f" -> BasicReport.frequencyChartData(df, f)).toMap ++
        outlier.map { case (o, keys, n) =>
          s"chart_outlier_$o" -> BasicReport.outlierChartData(df, o, keys, sampleSize = n) } ++
        eventRate.map { case (e, label, event) =>
          s"chart_event_rate_$e" -> BasicReport.eventRateChartData(df, e, label, event) }
      val report = BasicReport.generate(df) ++ charts
      save.foreach(saveAll(report, _))
      report
    }
  }

  // ---- checkpoint barrier (write + re-read, the reference's plan cut)
  private def writeIntermediate(spark: SparkSession, c: Conf): Step = {
    val (path, fileType) = (c.str("file_path"), c.str("file_type", "parquet"))
    transform { df =>
      Ingest.writeDataset(df, path, fileType)
      spark.read.format(fileType).load(path)
    }
  }

  // ---- final write (zorder_by → Z-order clustered parquet for
  // multi-dimension file skipping; cluster_by → range-clustered for the
  // leading key; else plain write_dataset)
  private def writeMain(c: Conf): Step = {
    val path = c.str("file_path")
    val (zorder, cluster) = (c.stringsOpt("zorder_by"), c.stringsOpt("cluster_by"))
    val (numFiles, fileType, repartition) =
      (c.int("num_files", 200), c.str("file_type", "parquet"), c.intOpt("repartition"))
    transform { df =>
      (zorder, cluster) match {
        case (Some(zb), _) => Ingest.writeZOrdered(df, path, zb, numFiles)
        case (None, Some(cb)) => Ingest.writeClustered(df, path, cb, numFiles)
        case (None, None) =>
          Ingest.writeDataset(df, path, fileType, repartitionTo = repartition)
      }
      df
    }
  }
}
