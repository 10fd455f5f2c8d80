package graft

import graft.functions.AutoDetect
import graft.workflow.{FeastExporter, Workflow}
import org.apache.spark.sql.functions._

class WorkflowSpec extends SparkSpec {
  import spark.implicits._

  test("workflow runs ETL + transformers + write from YAML") {
    val out = java.nio.file.Files.createTempDirectory("wf").toString
    val yaml = s"""
input_dataset:
  read_dataset:
    file_path: "/root/testdata/sf0.001/orders.parquet"
    file_type: parquet
  delete_column: [o_orderdate]
  rename_column:
    o_totalprice: price
transformers:
  attribute_binning:
    list_of_cols: [price]
    method_type: equal_range
    bin_size: 5
write_main:
  file_path: "$out/final"
  file_type: parquet
"""
    val (df, stages) = Workflow.run(spark, yaml)
    assert(df.columns.contains("price_binned") && !df.columns.contains("o_orderdate"))
    assert(stages.map(_.name) == Seq("read_dataset", "transformers", "write_main"))
    assert(stages.forall(_.seconds >= 0))
    val reread = spark.read.parquet(s"$out/final")
    assert(reread.count() == df.count())
  }

  test("workflow quality stage imputes and dedups") {
    val yaml = """
input_dataset:
  read_dataset:
    file_path: "/root/testdata/sf0.001/lineitem.parquet"
    file_type: parquet
  select_column: [l_orderkey, l_partkey, l_quantity]
quality_checker:
  duplicate_detection:
    list_of_cols: [l_orderkey, l_partkey]
    treatment: true
"""
    val (df, _) = Workflow.run(spark, yaml)
    assert(df.groupBy("l_orderkey", "l_partkey").count()
      .agg(max(col("count"))).first().getLong(0) == 1L)
  }

  test("workflow invalidEntries and nullColumns treatment stages") {
    val dir = java.nio.file.Files.createTempDirectory("wfq").toString
    Seq(
      ("a", Some(1.0), "ok"), ("b", Some(2.0), "NA"), ("c", None: Option[Double], "fine"),
      ("d", Some(4.0), "good"), ("e", Some(5.0), "###")
    ).toDF("id", "x", "s").write.parquet(s"$dir/t")
    val yaml = s"""
input_dataset:
  read_dataset:
    file_path: "$dir/t"
    file_type: parquet
quality_checker:
  invalidEntries_detection:
    list_of_cols: [s]
    treatment: true
  nullColumns_detection:
    list_of_cols: [x]
    treatment: true
    treatment_method: MMM
"""
    val (df, _) = Workflow.run(spark, yaml)
    // the two invalid strings were nulled; x's null was median-filled
    assert(df.filter(col("s").isNull).count() == 2)
    assert(df.filter(col("x").isNull).count() == 0)
  }

  test("workflow imputation_MMM imputes only list_of_cols, by method_type") {
    val dir = java.nio.file.Files.createTempDirectory("wfmmm").toString
    Seq((1L, Some(1.0), Some(5.0)), (2L, Some(2.0), None: Option[Double]),
      (3L, Some(6.0), Some(7.0)), (4L, None: Option[Double], Some(9.0)))
      .toDF("id", "x", "y").write.parquet(s"$dir/t")
    val yaml = s"""
input_dataset:
  read_dataset:
    file_path: "$dir/t"
    file_type: parquet
quality_checker:
  imputation_MMM:
    list_of_cols: [x]
    method_type: mean
"""
    val (df, _) = Workflow.run(spark, yaml)
    // x's null takes the mean of 1, 2 and 6 (the median would be 2)
    assert(df.filter(col("id") === 4L).select("x").first().getDouble(0) == 3.0)
    // y is numeric but outside list_of_cols: its null stays
    assert(df.filter(col("y").isNull).count() == 1)
  }

  test("workflow transformer stage: feature math, boxcox, model imputation") {
    val dir = java.nio.file.Files.createTempDirectory("wft").toString
    val rnd = new scala.util.Random(5)
    (1 to 200).map { i =>
      val x = rnd.nextDouble() * 10 + 1
      (i.toLong, x, if (i % 9 == 0) None else Some(3 * x + 5), math.exp(rnd.nextGaussian()))
    }.toDF("id", "x", "y", "e").write.parquet(s"$dir/t")
    val yaml = s"""
input_dataset:
  read_dataset:
    file_path: "$dir/t"
    file_type: parquet
transformers:
  feature_transformation:
    list_of_cols: [x]
    method_type: sqrt
  boxcox_transformation:
    list_of_cols: [e]
  imputation_sklearn:
    list_of_cols: [x, y]
    method_type: regression
"""
    val (df, _) = Workflow.run(spark, yaml)
    assert(df.filter(col("y").isNull).count() == 0)
    // x was sqrt'ed before imputation: max sqrt(11) < 3.4
    assert(df.agg(max(col("x"))).first().getDouble(0) < 3.5)
  }

  test("workflow transformer stage: supervised cat_to_num (target encoding)") {
    val dir = java.nio.file.Files.createTempDirectory("wfte").toString
    // category a: 3/4 events; category b: 1/4 events
    (0 until 200).map { i =>
      val cat = if (i % 2 == 0) "a" else "b"
      val label = if ((cat == "a" && i % 4 != 2) || (cat == "b" && i % 8 == 1)) "yes" else "no"
      (i.toLong, cat, label)
    }.toDF("id", "cat", "label").write.parquet(s"$dir/t")
    val yaml = s"""
input_dataset:
  read_dataset:
    file_path: "$dir/t"
    file_type: parquet
transformers:
  cat_to_num_supervised:
    list_of_cols: [cat]
    label_col: label
    event_label: "yes"
"""
    val (df, _) = Workflow.run(spark, yaml)
    val enc = df.select("cat", "cat_encoded").distinct()
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    // the stage must reproduce the direct operator's event rates
    val direct = graft.operators.Transformers.targetEncoding(
      spark.read.parquet(s"$dir/t"), Seq("cat"), col("label") === "yes")
      .select("cat", "cat_encoded").distinct()
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(enc == direct && enc("a") > enc("b"), s"enc=$enc direct=$direct")
  }

  test("workflow geospatial stage: geohash, country join, flags") {
    val dir = java.nio.file.Files.createTempDirectory("wfg").toString
    Seq((1L, 39.1, -94.6), (2L, 48.85, 2.35))
      .toDF("id", "lat", "lon").write.parquet(s"$dir/t")
    val yaml = s"""
input_dataset:
  read_dataset:
    file_path: "$dir/t"
    file_type: parquet
geospatial:
  lat_col: lat
  lon_col: lon
  geohash_precision: 6
  in_country: true
  country_flags: [US]
"""
    val (df, _) = Workflow.run(spark, yaml)
    val rows = df.collect().map(r => r.getAs[Long]("id") ->
      (r.getAs[String]("geohash"), r.getAs[String]("country_code"),
        r.getAs[Int]("in_US"))).toMap
    assert(rows(1L)._1.length == 6 && rows(1L)._2 == "US" && rows(1L)._3 == 1)
    assert(rows(2L)._2 == "FR" && rows(2L)._3 == 0)
  }

  test("workflow text_pipeline stage: filter, dedup, near-dup drop, stats") {
    val dir = java.nio.file.Files.createTempDirectory("wft").toString
    val good = "the quick brown fox jumps over the lazy dog again and again today"
    Seq(
      (1L, good),                         // representative of the near-dup pair
      (2L, good + " ok"),                 // near-dup of 1 → dropped
      (3L, good.replace("fox", "cat")),   // near-dup of 1 → dropped
      (4L, "!!! ??? ###"),                // fails the quality filter
      (5L, good),                         // exact dup of 1 → dropped
      (6L, "a completely different sentence that still has the stopwords in it for sure")
    ).toDF("doc_id", "text").write.parquet(s"$dir/t")
    val yaml = s"""
input_dataset:
  read_dataset:
    file_path: "$dir/t"
    file_type: parquet
text_pipeline:
  text_col: text
  id_col: doc_id
  quality_filter:
    min_score: 0.66
  exact_dedup: true
  near_dedup:
    ngram: 3
    threshold: 0.5
  text_stats: true
"""
    val (df, _) = Workflow.run(spark, yaml)
    val rows = df.collect()
    assert(rows.map(_.getAs[Long]("doc_id")).sorted.toSeq == Seq(1L, 6L))
    assert(rows.forall(_.getAs[Int]("n_tokens") > 0))
    assert(df.columns.contains("quality") && df.columns.contains("lang_pred"))
  }

  test("workflow text_pipeline: incremental dedup across two runs via a saved index") {
    val dir = java.nio.file.Files.createTempDirectory("wfi").toString
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    // run 1: batch A builds the index
    Seq((1L, base), (2L, "a completely different sentence with its own words entirely"))
      .toDF("doc_id", "text").write.parquet(s"$dir/batch_a")
    val yamlA = s"""
input_dataset:
  read_dataset:
    file_path: "$dir/batch_a"
    file_type: parquet
text_pipeline:
  text_col: text
  id_col: doc_id
  build_dedup_index: {path: "$dir/idx"}
"""
    Workflow.run(spark, yamlA)
    // run 2: batch B probes it — the near-dup of doc 1 drops, the novel stays
    Seq((10L, base + " ok"), (11L, "nothing here overlaps with anything indexed before"))
      .toDF("doc_id", "text").write.parquet(s"$dir/batch_b")
    val yamlB = s"""
input_dataset:
  read_dataset:
    file_path: "$dir/batch_b"
    file_type: parquet
text_pipeline:
  text_col: text
  id_col: doc_id
  dedup_against_index: {index_path: "$dir/idx", threshold: 0.5}
"""
    val (df, _) = Workflow.run(spark, yamlB)
    assert(df.collect().map(_.getAs[Long]("doc_id")).toSeq == Seq(11L))
    // run 3: probe AND rebuild the SAME path in one run (the natural
    // incremental loop): batch C's novel doc survives, the index then
    // ACCUMULATES it, and a batch-A near-dup still drops — proving the
    // fold-in unions old rows rather than replacing them
    val survivorB = "nothing here overlaps with anything indexed before"
    Seq((20L, survivorB + " extended"), (21L, base + " also near a")) // near-dup of batch A's doc 1
      .toDF("doc_id", "text").write.parquet(s"$dir/batch_c")
    val yamlC = s"""
input_dataset:
  read_dataset:
    file_path: "$dir/batch_c"
    file_type: parquet
text_pipeline:
  text_col: text
  id_col: doc_id
  dedup_against_index: {index_path: "$dir/idx", threshold: 0.5}
  build_dedup_index: {path: "$dir/idx"}
"""
    val (dfC, _) = Workflow.run(spark, yamlC)
    assert(dfC.collect().map(_.getAs[Long]("doc_id")).toSeq == Seq(20L))
    // the rebuilt index now carries batch A's docs AND batch C's survivor
    val idxKeys = spark.read.parquet(s"$dir/idx")
      .select("key").distinct().collect().map(_.getLong(0)).toSet
    assert(idxKeys.contains(1L) && idxKeys.contains(2L) && idxKeys.contains(20L))
  }

  test("workflow ANN index: build in run 1, radius-drop and metric probes in run 2") {
    val dir = java.nio.file.Files.createTempDirectory("wfann").toString
    // 4 well-separated prototypes, replicated — in-distribution vectors
    // reconstruct within a small ADC distance; the novel probe sits far
    // outside every codebook's reach
    val protos = Array(
      Array.fill(8)(0.0f), Array.fill(8)(5.0f),
      Array.tabulate(8)(i => if (i < 4) 10.0f else 0.0f),
      Array.tabulate(8)(i => if (i % 2 == 0) 0.0f else 8.0f))
    val corpus = (0 until 100).map(i => (i.toLong, protos(i % 4).toSeq))
      .toDF("vec_id", "embedding")
      .withColumn("embedding", col("embedding").cast("array<float>"))
    corpus.write.parquet(s"$dir/corpus")
    val yamlBuild = s"""
input_dataset:
  read_dataset:
    file_path: "$dir/corpus"
    file_type: parquet
build_ann_index: {path: "$dir/annidx", id_col: vec_id, vec_col: embedding,
  cell_count: 4, subspaces: 2, codebook_size: 4}
"""
    Workflow.run(spark, yamlBuild)
    assert(spark.read.parquet(s"$dir/annidx/lists").count() == 100)
    // probe batch: fresh-id copies of two prototypes (must drop inside
    // the radius) plus a far-away novel (must survive)
    val probe = Seq(
      (200L, protos(0).toSeq), (201L, protos(1).toSeq),
      (202L, Array.fill(8)(1000.0f).toSeq))
      .toDF("vec_id", "embedding")
      .withColumn("embedding", col("embedding").cast("array<float>"))
    probe.write.parquet(s"$dir/probe")
    val yamlDrop = s"""
input_dataset:
  read_dataset:
    file_path: "$dir/probe"
    file_type: parquet
ann_probe: {index_path: "$dir/annidx", id_col: vec_id, vec_col: embedding,
  max_dist: 50.0, nprobe: 4}
"""
    val (dropped, _) = Workflow.run(spark, yamlDrop)
    assert(dropped.select("vec_id").collect().map(_.getLong(0)).toSeq == Seq(202L))
    // metric mode: frame unchanged, top-k frame attached as a stage metric
    val yamlMetric = s"""
input_dataset:
  read_dataset:
    file_path: "$dir/probe"
    file_type: parquet
ann_probe: {index_path: "$dir/annidx", id_col: vec_id, vec_col: embedding,
  k: 2, nprobe: 4}
"""
    val (through, stages) = Workflow.run(spark, yamlMetric)
    assert(through.count() == 3)
    val topk = stages.find(_.name == "ann_probe").get.metrics("ann_topk")
    assert(topk.filter(col("query_id") === 200L).count() == 2)
  }

  test("workflow ann_probe: probing a corpus against its own index doesn't self-drop") {
    import graft.functions.Similarity
    val dir = java.nio.file.Files.createTempDirectory("wfself").toString
    // distinct, well-separated vectors under unique ids — each row's only
    // floor-distance entry in the index is ITSELF
    val vecs = (0 until 12).map { i =>
      (i.toLong, Array.tabulate(8)(d => if (d == i % 8) 50.0f + 10f * i else 0.0f).toSeq)
    }.toDF("vec_id", "embedding")
      .withColumn("embedding", col("embedding").cast("array<float>"))
    vecs.write.parquet(s"$dir/corpus")
    Workflow.run(spark, s"""
input_dataset:
  read_dataset:
    file_path: "$dir/corpus"
    file_type: parquet
build_ann_index: {path: "$dir/annidx", id_col: vec_id, vec_col: embedding,
  cell_count: 4, subspaces: 2, codebook_size: 4}
""")
    val model = spark.read.parquet(s"$dir/annidx/model")
    val lists = spark.read.parquet(s"$dir/annidx/lists")
    // radius that encloses every row's own stored entry: the old k=1
    // probe would match each row to itself at the ADC floor and drop the
    // ENTIRE frame
    val probe = Similarity.annAgainstIndex(vecs, "vec_id", "embedding",
      model, lists, k = 2, nprobe = 4)
    val radius = probe.filter(col("query_id") === col("neighbor_id"))
      .agg(org.apache.spark.sql.functions.max("adist")).head().getDouble(0) + 1.0
    // the stage's drop rule replayed directly: a non-self top-2 neighbor
    // inside the radius
    val expectDrop = probe
      .filter(col("neighbor_id") =!= col("query_id") && col("adist") <= radius)
      .select("query_id").distinct().collect().map(_.getLong(0)).toSet
    val (out, _) = Workflow.run(spark, s"""
input_dataset:
  read_dataset:
    file_path: "$dir/corpus"
    file_type: parquet
ann_probe: {index_path: "$dir/annidx", id_col: vec_id, vec_col: embedding,
  max_dist: $radius, nprobe: 4}
""")
    val kept = out.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(kept == (0L until 12L).toSet.diff(expectDrop), s"kept=$kept dropped=$expectDrop")
    assert(kept.nonEmpty,
      "fixture degenerated: every row has a non-self neighbor at the floor")
  }

  test("workflow: ts_preprocess, stratified sample, geo cluster stages") {
    val dir = java.nio.file.Files.createTempDirectory("wfx").toString
    val rnd = new scala.util.Random(5)
    val rows = (1 to 300).map { i =>
      val stratum = if (i <= 100) "a" else "b"
      val (clat, clon) = if (i % 2 == 0) (0.0, 0.0) else (40.0, 40.0)
      (i.toLong, f"2024-01-${i % 28 + 1}%02d", stratum,
        clat + 0.1 * rnd.nextGaussian(), clon + 0.1 * rnd.nextGaussian())
    }
    rows.toDF("id", "dt", "s", "lat", "lon").write.parquet(s"$dir/t")
    val yaml = s"""
input_dataset:
  read_dataset:
    file_path: "$dir/t"
    file_type: parquet
  ts_preprocess: auto
text_pipeline:
  text_col: s
  id_col: id
  stratified_sample:
    fraction: 0.5
    strata_cols: [s]
    mode: balanced
geospatial:
  lat_col: lat
  lon_col: lon
  cluster_kmeans: 4
"""
    val (df, stages) = Workflow.run(spark, yaml)
    assert(df.schema("dt").dataType.typeName == "timestamp")
    assert(stages.exists(_.name == "ts_preprocess"))
    // balanced: both strata keep exactly floor(0.5 * 100) = 50 rows
    val counts = df.groupBy("s").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts == Map("a" -> 50L, "b" -> 50L), s"$counts")
    assert(df.columns.contains("geo_cluster"))
  }

  test("workflow text_pipeline: pii, line dedup, gopher, sample, shards") {
    val dir = java.nio.file.Files.createTempDirectory("wft2").toString
    val body = Seq.fill(8)("the data and table with that have rows to be of use").mkString(" ")
    val footer = "contact admin@site.example.com for help"
    Seq(
      (1L, body + " one\n" + footer),
      (2L, body + " two\n" + footer),   // footer line deduped away
      (3L, body + " three\n" + footer),
      (4L, "#### ## #\n" + footer)      // fails gopher symbol rule
    ).toDF("doc_id", "text").write.parquet(s"$dir/t")
    val yaml = s"""
input_dataset:
  read_dataset:
    file_path: "$dir/t"
    file_type: parquet
text_pipeline:
  text_col: text
  id_col: doc_id
  pii_redaction: true
  line_dedup: true
  gopher_filter: true
  deterministic_sample:
    fraction: 1.0
  text_stats: true
  shard_budget: 60
"""
    val (df, _) = Workflow.run(spark, yaml)
    val rows = df.collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(rows.keySet == Set(1L, 2L, 3L), "gopher filter drops the symbol doc")
    val t1 = rows(1L).getAs[String]("text")
    assert(t1.contains("[EMAIL]") && !t1.contains("@site.example.com"))
    assert(!rows(2L).getAs[String]("text").contains("contact"),
      "footer line must survive only in doc 1")
    assert(df.columns.contains("shard") && df.columns.contains("n_tokens"))
    val shards = df.select("shard").collect().map(_.getLong(0))
    assert(shards.distinct.length > 1, "budget 60 splits three ~90-token docs")
  }

  test("workflow text_pipeline: mixture_sample stage with explicit weights") {
    val dir = java.nio.file.Files.createTempDirectory("wfmix").toString
    (1 to 300).map { i =>
      (i.toLong, s"s${i % 3}", Seq.fill(10)("tok").mkString(" ")) // 10 tokens each
    }.toDF("doc_id", "source", "text").write.parquet(s"$dir/t")
    val yaml = s"""
input_dataset:
  read_dataset:
    file_path: "$dir/t"
    file_type: parquet
text_pipeline:
  text_col: text
  id_col: doc_id
  mixture_sample:
    token_budget: 600
    source_col: source
    weights: {s0: 2, s1: 1}
"""
    val (df, stages) = Workflow.run(spark, yaml)
    assert(stages.exists(_.name == "text_pipeline"))
    val sums = df.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // targets: s0 = 400 tokens = 40 docs, s1 = 200 tokens = 20 docs;
    // unweighted s2 is dropped
    assert(sums == Map("s0" -> 40L, "s1" -> 20L), s"$sums")
  }

  test("workflow changelog_apply and snapshot_diff stages") {
    val dir = java.nio.file.Files.createTempDirectory("wfcdc").toString
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v").write.parquet(s"$dir/snap")
    Seq((2L, "B", "U", 1L), (3L, "c", "D", 1L), (4L, "d", "I", 1L))
      .toDF("k", "v", "op", "seq").write.parquet(s"$dir/changes")
    val yaml = s"""
input_dataset:
  read_dataset:
    file_path: "$dir/snap"
    file_type: parquet
changelog_apply:
  changes_path: "$dir/changes"
  key_cols: [k]
snapshot_diff:
  old_path: "$dir/snap"
  key_cols: [k]
"""
    val (df, stages) = Workflow.run(spark, yaml)
    assert(stages.map(_.name).containsSlice(Seq("changelog_apply", "snapshot_diff")))
    // merged = {1:a, 2:B, 4:d}; diff vs original snap = 2 changed,
    // 3 removed, 4 added
    val diff = df.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(diff == Map(2L -> "changed", 3L -> "removed", 4L -> "added"), s"$diff")
  }

  test("workflow text_pipeline: nb_filter keeps curated-scoring docs") {
    val dir = java.nio.file.Files.createTempDirectory("wfnb").toString
    Seq(
      (1L, "curated", "alpha alpha beta gamma"),
      (2L, "curated", "alpha beta alpha delta"),
      (3L, "junk", "zeta zeta eta theta"),
      (4L, "junk", "zeta eta zeta iota"),
      (5L, "web", "alpha alpha alpha beta"), // scores curated → kept
      (6L, "web", "zeta zeta eta eta")       // scores junk → dropped
    ).toDF("doc_id", "source", "text").write.parquet(s"$dir/t")
    val yaml = s"""
input_dataset:
  read_dataset:
    file_path: "$dir/t"
    file_type: parquet
text_pipeline:
  text_col: text
  id_col: doc_id
  nb_filter:
    positive_sources: [curated]
    negative_sources: [junk]
"""
    val (df, _) = Workflow.run(spark, yaml)
    val kept = df.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 2L, 5L), s"kept $kept")
  }

  test("workflow text_pipeline: span dedup and ccnet bucket stages") {
    val dir = java.nio.file.Files.createTempDirectory("wft3").toString
    val shared = "one two three four five six seven eight nine ten"
    Seq(
      (1L, s"aa bb $shared cc dd", "en"),
      (2L, s"$shared xx yy zz", "en"),
      (3L, "totally different words with no overlap at all here friend", "en"),
      (4L, "noch ein ganz anderes dokument ohne gemeinsame folge", "de")
    ).toDF("doc_id", "text", "lang").write.parquet(s"$dir/t")
    val yaml = s"""
input_dataset:
  read_dataset:
    file_path: "$dir/t"
    file_type: parquet
text_pipeline:
  text_col: text
  id_col: doc_id
  span_dedup:
    window_tokens: 8
  quality_filter:
    min_score: 0.0
  ccnet_buckets:
    score_col: quality
    lang_col: lang
"""
    val (df, _) = Workflow.run(spark, yaml)
    val rows = df.collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(rows.keySet == Set(1L, 2L, 3L, 4L))
    // the shared 10-token run is removed from both carriers
    assert(rows(1L).getAs[String]("text") == "aa bb cc dd")
    assert(rows(2L).getAs[String]("text") == "xx yy zz")
    assert(rows(3L).getAs[String]("text").startsWith("totally different"))
    // buckets assigned per language; the lone de doc is its own head
    val buckets = df.collect().map(r =>
      r.getAs[Long]("doc_id") -> r.getAs[String]("bucket")).toMap
    assert(buckets(4L) == "head")
    assert(Set("head", "middle", "tail").contains(buckets(1L)))
  }

  test("full-demo equivalent: complete pipeline over the reference income fixture") {
    // mirrors the reference CI's full-demo run (.github/workflows/
    // full-demo.yml): ETL → stats → quality treatments → transformers →
    // association → final write, on the reference's own income dataset.
    val fixture = "/root/reference/data/test_dataset/" +
      "part-00000-3eb0f7bb-05c2-46ec-8913-23ba231d2734-c000.snappy.parquet"
    assume(new java.io.File(fixture).exists())
    val out = java.nio.file.Files.createTempDirectory("fulldemo").toString
    val yaml = s"""
input_dataset:
  read_dataset:
    file_path: "$fixture"
    file_type: parquet
  delete_column: [ifa]
stats_generator:
  list_of_cols: all
  save_stats_path: "$out/stats"
quality_checker:
  duplicate_detection:
    list_of_cols: all
    treatment: true
  imputation_MMM:
    method_type: median
  outlier_detection:
    list_of_cols: [age, fnlwgt, hours-per-week]
    treatment: true
    treatment_method: value
transformers:
  attribute_binning:
    list_of_cols: [age]
    method_type: equal_range
    bin_size: 10
  cat_to_num_unsupervised:
    list_of_cols: [sex]
association_evaluator:
  IV_calculation:
    list_of_cols: [relationship, occupation]
    label_col: income
    event_label: ">50K"
write_main:
  file_path: "$out/final"
  file_type: parquet
"""
    val (df, stages) = graft.workflow.Workflow.run(spark, yaml)
    assert(stages.map(_.name).containsSlice(
      Seq("read_dataset", "stats_generator", "quality_checker", "transformers",
        "association_evaluator", "write_main")))
    val finalDf = spark.read.parquet(s"$out/final")
    assert(finalDf.count() > 15000)
    assert(finalDf.columns.contains("age_binned") && finalDf.columns.contains("sex_index"))
    // treatments applied: no nulls in imputed numerics, outliers clamped
    assert(finalDf.filter(col("age").isNull).count() == 0)
    val iv = stages.find(_.name == "association_evaluator").get
      .metrics("IV_calculation").collect().map(r => r.getString(0)).toSet
    assert(iv == Set("relationship", "occupation"))
  }

  test("workflow corpus_health stage emits zipf, gini, and concentration metrics") {
    val yaml = """
input_dataset:
  read_dataset:
    file_path: "/root/testdata/sf0.001/documents.parquet"
    file_type: parquet
corpus_health:
  text_col: text
  top_v: 50
  length_col: n_chars
  source_col: source
  weight_col: n_chars
"""
    val (_, stages) = Workflow.run(spark, yaml)
    val m = stages.find(_.name == "corpus_health").get.metrics
    assert(m.keySet == Set("zipf_fit", "length_gini", "source_concentration"))
    assert(m("zipf_fit").first().getLong(0) > 0)
    val hhi = m("source_concentration").first()
    assert(hhi.getDouble(0) > 0 && hhi.getLong(2) > 0)
  }

  test("workflow curation_pipeline: dsir select, leakage split, overlap metric") {
    val yaml = """
input_dataset:
  read_dataset:
    file_path: "/root/testdata/sf0.001/documents.parquet"
    file_type: parquet
curation_pipeline:
  text_col: text
  id_col: doc_id
  dsir_select:
    target_col: lang
    target_value: en
    keep_k: 20
    num_buckets: 8192
  leakage_split:
    block_col: lang
    ngram: 3
    threshold: 0.5
    weights:
      - "train:0.8"
      - "test:0.2"
  source_overlap:
    source_col: source
"""
    val (df, stages) = Workflow.run(spark, yaml)
    val rows = df.select("doc_id", "lang", "rep", "split").collect()
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val nTarget = docs.filter(org.apache.spark.sql.functions.col("lang") === "en").count()
    // every target doc survives; exactly keep_k raw-pool docs are added
    assert(rows.count(_.getAs[String]("lang") == "en") == nTarget)
    assert(rows.count(_.getAs[String]("lang") != "en") == 20)
    // split is cluster-consistent: one split per representative
    val perRep = rows.groupBy(_.getAs[Long]("rep"))
      .map { case (_, rs) => rs.map(_.getAs[String]("split")).toSet.size }
    assert(perRep.forall(_ == 1))
    assert(rows.map(_.getAs[String]("split")).toSet.subsetOf(Set("train", "test")))
    // the overlap metric is the dense pairwise matrix over SURVIVING docs
    val m = stages.find(_.name == "curation_pipeline").get.metrics
    val ov = m("source_overlap")
    val nSrc = df.select("source").distinct().count()
    assert(ov.count() == nSrc * (nSrc - 1) / 2)
  }

  test("workflow ts_diagnostics stage emits the diagnostic quartet as metrics") {
    val yaml = """
input_dataset:
  read_dataset:
    file_path: "/root/testdata/sf0.001/events.parquet"
    file_type: parquet
ts_diagnostics:
  ts_col: ts
  value_col: value
  series_cols: [event_type]
  period: 7
  max_lag: 3
  pacf: true
"""
    val (through, stages) = Workflow.run(spark, yaml)
    val m = stages.find(_.name == "ts_diagnostics").get.metrics
    assert(m.keySet == Set("seasonal_decompose", "acf", "pacf", "cusum"))
    assert(m("acf").select("lag").distinct().count() == 3)
    assert(m("cusum").count() == m("cusum").select("event_type").distinct().count())
    assert(through.columns.contains("value")) // frame flows through unchanged
  }

  test("workflow write_main zorder_by produces a z-clustered, lossless output") {
    val out = java.nio.file.Files.createTempDirectory("wfz").toString
    val yaml = s"""
input_dataset:
  read_dataset:
    file_path: "/root/testdata/sf0.001/orders.parquet"
    file_type: parquet
write_main:
  file_path: "$out/z"
  zorder_by: [o_totalprice, o_custkey]
  num_files: 4
"""
    graft.workflow.Workflow.run(spark, yaml)
    val back = spark.read.parquet(s"$out/z")
    val src = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    assert(back.count() == src.count())
    import org.apache.spark.sql.functions.input_file_name
    assert(back.select(input_file_name()).distinct().count() == 4)
    // a custkey-only slice must not touch every file (the z-point: the
    // SECOND cluster dimension also skips)
    val mx = src.agg(org.apache.spark.sql.functions.max(col("o_custkey"))).head().getLong(0)
    val hit = back.filter(col("o_custkey") < mx / 8)
      .select(input_file_name()).distinct().count()
    assert(hit <= 2, s"custkey slice should skip z-files, hit $hit of 4")
  }

  test("workflow association and drift stages emit metric tables") {
    val yaml = """
input_dataset:
  read_dataset:
    file_path: "/root/testdata/sf0.001/orders.parquet"
    file_type: parquet
association_evaluator:
  correlation_matrix:
    list_of_cols: [o_orderkey, o_custkey, o_totalprice]
  IV_calculation:
    list_of_cols: [o_orderpriority]
    label_col: o_orderstatus
    event_label: F
  spearman_matrix:
    list_of_cols: [o_orderkey, o_custkey, o_totalprice]
  cat_association:
    list_of_cols: [o_orderstatus, o_orderpriority]
  correlation_ratio:
    cat_cols: [o_orderstatus]
    num_cols: [o_totalprice]
drift_detector:
  source_path: "/root/testdata/sf0.001/orders.parquet"
  list_of_cols: [o_totalprice]
"""
    val (_, stages) = Workflow.run(spark, yaml)
    val byName = stages.map(s => s.name -> s).toMap
    val assoc = byName("association_evaluator").metrics
    assert(assoc("correlation_matrix").count() == 3)
    assert(assoc("IV_calculation").count() == 1)
    assert(assoc("spearman_matrix").count() == 3)
    assert(assoc("cat_association").count() == 1)
    val eta = assoc("correlation_ratio").collect().head
    assert(eta.getString(0) == "o_orderstatus" && !eta.isNullAt(2))
    val drift = byName("drift_detector").metrics("drift_statistics").collect()(0)
    assert(drift.getDouble(drift.fieldIndex("PSI")) == 0.0) // source == target
  }

  test("workflow report stage persists the basic report tables") {
    val out = java.nio.file.Files.createTempDirectory("report").toString
    val yaml = s"""
input_dataset:
  read_dataset:
    file_path: "/root/testdata/sf0.001/customer.parquet"
    file_type: parquet
report_preprocessing:
  save_path: "$out"
"""
    val (_, stages) = Workflow.run(spark, yaml)
    assert(stages.exists(_.name == "report_preprocessing"))
    assert(spark.read.parquet(s"$out/measures_of_percentiles").count() > 0)
    assert(spark.read.parquet(s"$out/mode_computation").count() > 0)
  }

  test("feast exporter adds timestamps and generates a feature view") {
    val d = Seq((1L, 2.5, "x")).toDF("id", "score", "tag")
    val stamped = FeastExporter.addTimestampColumns(d)
    assert(stamped.columns.contains("event_time") && stamped.columns.contains("created"))
    val src = FeastExporter.generateFeatureView(stamped, "users", "id", "/data/users.parquet")
    assert(src.contains("""Field(name="score", dtype=Float64)"""))
    assert(src.contains("""Field(name="tag", dtype=String)"""))
    assert(src.contains("join_keys=[\"id\"]"))
    assert(!src.contains("name=\"event_time\""))
  }

  test("timestamp auto-detection infers formats from sampled distincts") {
    val d = Seq(
      ("2024-01-15", "15/01/2024", "notadate"),
      ("2023-12-31", "31/12/2023", "alsonot")
    ).toDF("iso", "euro", "junk")
    val det = AutoDetect.detectTimestampColumns(d, Seq("iso", "euro", "junk"))
      .map(x => x.attribute -> x.format).toMap
    assert(det("iso").contains("yyyy-MM-dd"))
    assert(det("euro").contains("d/M/yyyy"))
    assert(det("junk").isEmpty)
    val cast = AutoDetect.tsPreprocess(d, AutoDetect.detectTimestampColumns(d, Seq("iso", "euro")))
    assert(cast.schema("iso").dataType.typeName == "timestamp")
    assert(cast.select(year(col("euro"))).collect().map(_.getInt(0)).toSet == Set(2024, 2023))
  }

  test("geo auto-detection finds lat/lon/geohash columns") {
    val d = Seq((48.8, 2.35, "u09tvw", 9999.0))
      .toDF("latitude", "longitude", "geohash_cell", "balance")
    val g = AutoDetect.detectGeoColumns(d)
    assert(g.latCols == Seq("latitude"))
    assert(g.lonCols == Seq("longitude"))
    assert(g.geohashCols == Seq("geohash_cell"))
  }

  test("workflow graph_metrics stage: pagerank + triangle counts as metrics") {
    val yaml = """
input_dataset:
  read_dataset:
    file_path: "/root/testdata/sf0.001/lineitem.parquet"
    file_type: parquet
  select_column: [l_suppkey, l_partkey]
graph_metrics:
  src_col: l_suppkey
  dst_col: l_partkey
  pagerank:
    iterations: 3
  personalized_pagerank:
    seeds: [1, 2, 3]
    iterations: 3
  hits:
    iterations: 2
  k_core:
    k: 2
    rounds: 3
  connected_components:
    rounds: 4
  harmonic:
    radius: 2
  label_propagation:
    rounds: 3
  louvain:
    rounds: 4
  community_profile:
    rounds: 4
  neighborhood:
    radius: 2
    quantile: 0.9
  random_walks:
    length: 3
    walks_per_node: 2
    max_neighbors: 8
    salt: wf
  triangle_counts: true
  summary: true
"""
    val (df, stages) = Workflow.run(spark, yaml)
    val gm = stages.find(_.name == "graph_metrics").get
    val pr = gm.metrics("pagerank")
    assert(pr.columns.toSeq == Seq("node", "rank"))
    assert(pr.count() > 0)
    // ranks are a probability mass over nodes — sum stays ≈1 (dangling
    // nodes leak a little mass, never add any)
    val total = pr.agg(sum(col("rank"))).first().getDouble(0)
    assert(total > 0 && total <= 1.0 + 1e-9)
    val ppr = gm.metrics("personalized_pagerank")
    assert(ppr.columns.toSeq == Seq("node", "rank"))
    // teleport mass restricted to the YAML seed list: parity with the
    // direct library call over the same edges + an inline seed frame
    locally {
      import spark.implicits._
      val directPpr = graft.functions.Graph.personalizedPageRank(
          spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
            .select(col("l_suppkey"), col("l_partkey")),
          Seq(1L, 2L, 3L).toDF("node"), "l_suppkey", "l_partkey", iterations = 3)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(ppr.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
        == directPpr, "workflow PPR arm diverges from the direct call")
    }
    val ht = gm.metrics("hits")
    assert(ht.columns.toSeq == Seq("node", "auth", "hub"))
    // max-normalized: both score vectors top out at exactly 1
    assert(ht.agg(max(col("auth")), max(col("hub"))).first() ==
      org.apache.spark.sql.Row(1.0, 1.0))
    val kc = gm.metrics("k_core")
    assert(kc.columns.toSeq == Seq("node", "core_degree"))
    // peeling only removes: every survivor keeps a positive in-core degree
    assert(kc.agg(min(col("core_degree"))).first().getLong(0) >= 1L)
    val cc = gm.metrics("connected_components")
    assert(cc.columns.toSeq == Seq("node", "comp"))
    // labels are min-ids: never above the node's own id
    assert(cc.filter(col("comp") > col("node")).count() == 0)
    val hm = gm.metrics("harmonic")
    assert(hm.columns.toSeq == Seq("node", "reached", "harmonic"))
    // every node has an edge, so a radius-2 ball reaches at least one
    // peer: harmonic strictly positive everywhere
    assert(hm.filter(col("harmonic") <= 0.0).count() == 0)
    val lp = gm.metrics("label_propagation")
    assert(lp.columns.toSeq == Seq("node", "label"))
    // adopted labels are always some node's id
    val nodeSet = lp.select("node")
    assert(lp.select(col("label").as("node")).except(nodeSet).count() == 0)
    val lv = gm.metrics("louvain")
    assert(lv.columns.toSeq == Seq("node", "community"))
    // communities are always some node's id, and the half-graph moves
    // agree with the direct library call
    assert(lv.select(col("community").as("node")).except(nodeSet).count() == 0)
    val direct = graft.functions.Graph.louvainCommunities(
        spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
          .select(col("l_suppkey"), col("l_partkey")),
        "l_suppkey", "l_partkey", rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lv.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap == direct)
    val cp = gm.metrics("community_profile")
    assert(cp.columns.toSeq == Seq("community", "n_nodes", "internal_w",
      "boundary_w", "volume", "conductance"))
    // node counts roll up to the node set; volumes sum to 2m
    assert(cp.agg(sum(col("n_nodes"))).first().getLong(0) == nodeSet.count())
    val nb = gm.metrics("neighborhood")
    assert(nb.columns.toSeq == Seq("d", "nf", "coverage", "effective"))
    // radius-2 run: 3 rows, exactly one effective depth, coverage ends at 1
    assert(nb.count() == 3 && nb.filter(col("effective")).count() == 1)
    assert(nb.orderBy(col("d").desc).first().getDouble(2) == 1.0)
    val rw = gm.metrics("random_walks")
    assert(rw.columns.toSeq == Seq("start", "walk", "step", "node"))
    // 2 walks per node, each emitting steps 0..3
    assert(rw.count() == nodeSet.count() * 2 * 4)
    assert(gm.metrics("triangle_counts").columns.contains("triangles"))
    val gs = gm.metrics("summary").collect()(0)
    // one-row profile; node/edge counts agree with the other arms' frames
    assert(gs.getAs[Long]("nodes") == nodeSet.count())
    assert(gs.getAs[Double]("avg_degree") > 0.0)
    // the data frame itself flows through the stage unchanged
    assert(df.columns.toSeq == Seq("l_suppkey", "l_partkey"))
  }

  test("workflow graph_metrics rejects typo'd sub-config keys and plumbs rescale_every") {
    def yamlWith(hits: String) = s"""
input_dataset:
  read_dataset:
    file_path: "/root/testdata/sf0.001/lineitem.parquet"
    file_type: parquet
  select_column: [l_suppkey, l_partkey]
graph_metrics:
  src_col: l_suppkey
  dst_col: l_partkey
  hits:
$hits
"""
    // a misspelled knob must fail fast, not silently run the default
    val err = intercept[IllegalArgumentException] {
      Workflow.run(spark, yamlWith("    iterations: 2\n    rescale_evry: 1"))
    }
    assert(err.getMessage.contains("rescale_evry"))
    // rescale_every reaches Graph.hits: rescaling every sweep vs only at
    // the end yields the same ranking but different sweep-2 raw maxima;
    // both runs stay max-normalized at 1 so compare full score vectors
    def scores(re: Int) = {
      val (_, st) = Workflow.run(spark,
        yamlWith(s"    iterations: 3\n    rescale_every: $re"))
      st.find(_.name == "graph_metrics").get.metrics("hits")
        .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    }
    val everySweep = scores(1)
    val direct = graft.functions.Graph.hits(
        spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
          .select(col("l_suppkey"), col("l_partkey")),
        "l_suppkey", "l_partkey", iterations = 3, rescaleEvery = 1)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(everySweep == direct, "rescale_every did not reach Graph.hits")
  }

  test("workflow louvain arm plumbs weight_col and levels") {
    val yaml = """
input_dataset:
  read_dataset:
    file_path: "/root/testdata/sf0.001/lineitem.parquet"
    file_type: parquet
  select_column: [l_suppkey, l_partkey, l_quantity]
graph_metrics:
  src_col: l_suppkey
  dst_col: l_partkey
  louvain:
    rounds: 3
    weight_col: l_quantity
    levels: 2
"""
    val (_, stages) = Workflow.run(spark, yaml)
    val lv = stages.find(_.name == "graph_metrics").get.metrics("louvain")
    val direct = graft.functions.Graph.louvainMultiLevel(
        spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
          .select(col("l_suppkey"), col("l_partkey"), col("l_quantity")),
        "l_suppkey", "l_partkey", levels = 2, roundsPerLevel = 3,
        weightCol = "l_quantity")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lv.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap == direct,
      "workflow multi-level weighted louvain diverges from the direct call")
  }

  test("workflow project_bipartite feeds downstream arms the projected graph") {
    val yaml = """
input_dataset:
  read_dataset:
    file_path: "/root/testdata/sf0.001/lineitem.parquet"
    file_type: parquet
  select_column: [l_orderkey, l_suppkey]
graph_metrics:
  src_col: l_orderkey
  dst_col: l_suppkey
  project_bipartite:
    max_per_group: 4
    salt: wf
  louvain:
    rounds: 3
    weight_col: w
  summary: true
"""
    val (_, stages) = Workflow.run(spark, yaml)
    val gm = stages.find(_.name == "graph_metrics").get
    val mem = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .select(col("l_orderkey"), col("l_suppkey"))
    val directProj = graft.functions.Graph.projectBipartite(
      mem, "l_orderkey", "l_suppkey", maxPerGroup = 4, salt = "wf")
    val proj = gm.metrics("project_bipartite")
    assert(proj.columns.toSeq == Seq("lo", "hi", "w"))
    assert(proj.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
      == directProj.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq)
    // downstream arms consumed the PROJECTION, not the membership rows
    val lv = gm.metrics("louvain")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val directLv = graft.functions.Graph.louvainCommunities(
        directProj, "lo", "hi", rounds = 3, weightCol = "w")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lv == directLv, "louvain did not run on the projection")
    // the one-row summary describes the projected graph (supplier
    // nodes), not the bipartite membership frame
    val nodes = directProj.select(col("lo").as("n"))
      .unionByName(directProj.select(col("hi").as("n"))).distinct().count()
    assert(gm.metrics("summary").collect()(0).getAs[Long]("nodes") == nodes)
  }

  test("workflow tokenize algo=wordpiece trains, encodes, and rejects typos") {
    def yamlWith(algo: String) = s"""
input_dataset:
  read_dataset:
    file_path: "/root/testdata/sf0.001/documents.parquet"
    file_type: parquet
tokenize:
  algo: $algo
  text_col: text
  num_merges: 4
"""
    // a misspelled algo must fail fast, not silently fall through to BPE
    val err = intercept[IllegalArgumentException] {
      Workflow.run(spark, yamlWith("wordpeice"))
    }
    assert(err.getMessage.contains("wordpeice"))
    val (out, stages) = Workflow.run(spark, yamlWith("wordpiece"))
    assert(out.columns.contains("tokens") && out.columns.contains("n_tokens_wordpiece"))
    val st = stages.find(_.name == "tokenize").get
    val merges = st.metrics("wordpiece_merges").collect()
    assert(merges.length == 4)
    // the stage's encode agrees with the library path end-to-end
    val lib = graft.functions.WordPieceTokenizer.trainMerges(
      spark.read.parquet("/root/testdata/sf0.001/documents.parquet"),
      "text", numMerges = 4)
    assert(merges.map(r => (r.getString(1), r.getString(2))).toSeq ==
      lib.map(m => (m.lhs, m.rhs)))
    val direct = graft.functions.WordPieceTokenizer.wordPieceEncode(
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet"),
        "text", "doc_id", lib)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    val viaStage = out.select(col("doc_id"), col("n_tokens_wordpiece"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(viaStage == direct)
  }

  test("workflow rejects an unknown key at any depth before reading any data") {
    val out = java.nio.file.Files.createTempDirectory("wfkeys").toString
    val orders = "/root/testdata/sf0.001/orders.parquet"
    val read = s"""
input_dataset:
  read_dataset:
    file_path: "$orders"
    file_type: parquet
"""
    // (dotted path the error must name, stage blocks after the read)
    val cases = Seq(
      "stats_generatr" -> """
stats_generatr:
  list_of_cols: all
""",
      "quality_checker.outlier_detecton" -> """
quality_checker:
  outlier_detecton: {list_of_cols: [o_totalprice], treatment: true}
""",
      "transformers.attribute_binning.bin_sise" -> """
transformers:
  attribute_binning: {list_of_cols: [o_totalprice], bin_sise: 4}
""",
      // a valid write_main after the typo: the rejection must come before
      // any stage runs, so the output path is never created
      "report_preprocessing.save_pth" -> s"""
report_preprocessing:
  save_pth: "$out/report"
write_main:
  file_path: "$out/final"
""")
    cases.foreach { case (path, stages) =>
      val err = intercept[IllegalArgumentException](Workflow.run(spark, read + stages))
      assert(err.getMessage.contains(path), s"expected $path in: ${err.getMessage}")
    }
    assert(!new java.io.File(s"$out/final").exists(), "write_main ran before the rejection")
  }

  test("workflow runs its stages in the fixed table order, whatever the config order") {
    val dir = java.nio.file.Files.createTempDirectory("wforder").toString
    val orders = "/root/testdata/sf0.001/orders.parquet"
    val yaml = s"""
write_main:
  file_path: "$dir/final"
drift_detector:
  source_path: "$orders"
  list_of_cols: [o_totalprice]
write_intermediate:
  file_path: "$dir/mid"
association_evaluator:
  correlation_matrix: {list_of_cols: [o_totalprice, o_custkey]}
transformers:
  attribute_binning: {list_of_cols: [o_totalprice], bin_size: 4}
heavy_hitters:
  list_of_cols: [o_orderstatus]
  k: 3
quality_checker:
  duplicate_detection: {list_of_cols: all, treatment: true}
stats_generator:
  list_of_cols: [o_totalprice]
  metrics: [central_tendency]
input_dataset:
  read_dataset:
    file_path: "$orders"
    file_type: parquet
  delete_column: [o_orderdate]
  ts_preprocess: [o_orderpriority]
"""
    val (_, stages) = Workflow.run(spark, yaml)
    assert(stages.map(_.name) == Seq("read_dataset", "ts_preprocess", "stats_generator",
      "quality_checker", "heavy_hitters", "transformers", "association_evaluator",
      "drift_detector", "write_intermediate", "write_main"))
    assert(spark.read.parquet(s"$dir/final").columns.contains("o_totalprice_binned"))
  }

  test("workflow bm25_retrieval stage ranks configured queries") {
    val yaml = """
input_dataset:
  read_dataset:
    file_path: "/root/testdata/sf0.001/documents.parquet"
    file_type: parquet
bm25_retrieval:
  text_col: text
  id_col: doc_id
  queries: [data pipeline quality, machine learning]
  k: 5
"""
    val (_, stages) = Workflow.run(spark, yaml)
    val topk = stages.find(_.name == "bm25_retrieval").get.metrics("bm25_topk")
    val rows = topk.collect()
    assert(rows.nonEmpty)
    val qids = rows.map(_.getAs[Long]("query_id")).toSet
    assert(qids.subsetOf(Set(0L, 1L)))
    // at most k docs per query, ranked 1..n
    val perQ = rows.groupBy(_.getAs[Long]("query_id"))
    assert(perQ.values.forall(_.length <= 5))
  }

  test("workflow heavy_hitters stage emits a bounded top list per column") {
    val yaml = """
input_dataset:
  read_dataset:
    file_path: "/root/testdata/sf0.001/documents.parquet"
    file_type: parquet
heavy_hitters:
  list_of_cols: [lang, source]
  k: 4
"""
    val (_, stages) = Workflow.run(spark, yaml)
    val hh = stages.find(_.name == "heavy_hitters").get
    val lang = hh.metrics("heavy_hitters_lang")
    assert(lang.columns.toSeq == Seq("item", "est_count"))
    assert(lang.count() <= 4 && lang.count() > 0)
    assert(hh.metrics("heavy_hitters_source").count() <= 4)
  }

  test("workflow transformers stage: quantile_transform maps to [0,1]") {
    val yaml = """
input_dataset:
  read_dataset:
    file_path: "/root/testdata/sf0.001/lineitem.parquet"
    file_type: parquet
  select_column: [l_orderkey, l_extendedprice]
transformers:
  quantile_transform:
    list_of_cols: [l_extendedprice]
    n_quantiles: 21
"""
    val (df, stages) = Workflow.run(spark, yaml)
    assert(stages.exists(_.name == "transformers"))
    assert(df.columns.contains("l_extendedprice_qt"))
    val mm = df.agg(min("l_extendedprice_qt"), max("l_extendedprice_qt")).first()
    assert(mm.getDouble(0) >= 0.0 && mm.getDouble(1) <= 1.0)
    // the transform is monotone in the source column
    val viol = df.selectExpr("l_extendedprice p", "l_extendedprice_qt q")
      .as[(Double, Double)].collect().sortBy(_._1)
      .sliding(2).count { case Array(a, b) => b._2 < a._2; case _ => false }
    assert(viol == 0)
  }

  test("workflow asof_join stage enriches with the latest prior state") {
    val dir = java.nio.file.Files.createTempDirectory("asofwf").toString
    val t = (h: Int) => java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:00:00")
    Seq((1L, t(1), 10.0), (1L, t(5), 50.0), (2L, t(2), 20.0))
      .toDF("uid", "sts", "state").write.parquet(s"$dir/state")
    Seq((1L, t(3)), (1L, t(6)), (2L, t(1)))
      .toDF("uid", "ets").write.parquet(s"$dir/left")
    val yaml = s"""
input_dataset:
  read_dataset:
    file_path: "$dir/left"
    file_type: parquet
asof_join:
  right_path: "$dir/state"
  key_cols: [uid]
  left_ts: ets
  right_ts: sts
  value_cols: [state]
  direction: backward
"""
    val (df, stages) = Workflow.run(spark, yaml)
    assert(stages.exists(_.name == "asof_join"))
    val byRow = df.collect().map(r =>
      (r.getAs[Long]("uid"), r.getAs[java.sql.Timestamp]("ets").toString.take(13)) ->
        Option(r.get(r.fieldIndex("state")))).toMap
    assert(byRow((1L, "2024-01-01 03")) == Some(10.0)) // latest prior
    assert(byRow((1L, "2024-01-01 06")) == Some(50.0))
    assert(byRow((2L, "2024-01-01 01")) == None) // nothing prior
  }

  test("workflow semantic_dedup stage keeps one survivor per component") {
    val yaml = """
input_dataset:
  read_dataset:
    file_path: "/root/testdata/sf0.001/embeddings.parquet"
    file_type: parquet
semantic_dedup:
  id_col: vec_id
  vec_col: embedding
  threshold: 0.999
  cell_count: 4
"""
    val (df, stages) = Workflow.run(spark, yaml)
    assert(stages.exists(_.name == "semantic_dedup"))
    val n0 = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").count()
    val n1 = df.count()
    // survivors only: no more rows than input, and ids stay unique
    assert(n1 > 0 && n1 <= n0)
    assert(df.select("vec_id").distinct().count() == n1)
  }

  test("workflow report_preprocessing emits chart-data frames on request") {
    val yaml = """
input_dataset:
  read_dataset:
    file_path: "/root/testdata/sf0.001/events.parquet"
    file_type: parquet
  select_column: [event_id, event_type, value]
report_preprocessing:
  frequency_cols: [event_type]
  outlier_chart:
    col: value
    key_cols: [event_id]
    sample_size: 400
  event_rate_chart:
    col: event_type
    label_col: event_type
    event: click
"""
    val (_, stages) = Workflow.run(spark, yaml)
    val rp = stages.find(_.name == "report_preprocessing").get
    val freq = rp.metrics("chart_frequency_event_type")
    assert(freq.columns.contains("count_pct") && freq.count() > 0)
    val out = rp.metrics("chart_outlier_value")
    assert(out.filter(col("value").isNull).count() == 0)
    assert(out.count() <= 1000) // bounded by the sample
    val er = rp.metrics("chart_event_rate_event_type")
    assert(er.columns.contains("event_rate"))
    val click = er.filter(col("event_type") === "click").first()
    assert(click.getAs[Double]("event_rate") == 100.0)
    // the stats tables are still there alongside the charts
    assert(rp.metrics.contains("global_summary"))
  }

  test("q_workflow_graph deletes its scratch tree eagerly (no deleteOnExit leak)") {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir", "/tmp"))
    def scratchDirs() = Option(tmp.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("graft_q_workflow_graph"))
      .map(_.getName).toSet
    val before = scratchDirs()
    val df = graft.SparkEntry.queries("q_workflow_graph")(spark, "/root/testdata/sf0.001")
    assert(df.count() > 0) // the checkpointed metrics survive the delete
    // the per-invocation scratch dir must be GONE once the query
    // returns — not parked until JVM exit (r19 verdict item 4)
    assert(scratchDirs() == before,
      s"scratch dirs left behind: ${scratchDirs() -- before}")
  }
}
