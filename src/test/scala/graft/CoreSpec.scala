package graft

import graft.core._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

class CoreSpec extends SparkSpec {
  import spark.implicits._

  private def df = Seq(
    (1L, "a", 1.5, java.sql.Timestamp.valueOf("2024-01-01 00:00:00")),
    (2L, "b", 2.5, java.sql.Timestamp.valueOf("2024-01-02 00:00:00"))
  ).toDF("id", "name", "score", "ts")

  test("ColumnRole segregates numeric / categorical / other") {
    val (num, cat, other) = ColumnRole.segregate(df.schema)
    assert(num == Seq("id", "score"))
    assert(cat == Seq("name"))
    assert(other == Seq("ts"))
  }

  test("discrete = categorical + integral") {
    assert(ColumnRole.discreteCols(df) == Seq("id", "name"))
  }

  test("ColumnSelector resolves all/pipe/drop and rejects unknown") {
    assert(ColumnSelector.resolve(df, "all") == Seq("id", "name", "score", "ts"))
    assert(ColumnSelector.resolve(df, "id|score") == Seq("id", "score"))
    assert(ColumnSelector.resolve(df, "all", dropCols = Seq("ts")) == Seq("id", "name", "score"))
    intercept[IllegalArgumentException](ColumnSelector.resolve(df, "nope"))
  }

  test("GraftExtensions injects every native function into a registry") {
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new graft.plans.GraftExtensions().apply(ext)
    val reg = spark.sessionState.functionRegistry.clone()
    // registerFunctions is private[sql] at the Scala level but public in
    // bytecode — invoke reflectively (the session-creation path Spark
    // itself uses when spark.sql.extensions is set)
    classOf[org.apache.spark.sql.SparkSessionExtensions].getDeclaredMethods
      .find(_.getName == "registerFunctions").get.invoke(ext, reg)
    val names = Seq("geohash_encode", "md5_prefix60",
      "simhash_votes", "jaro_winkler", "misra_gries", "bounded_collect_long")
    names.foreach { n =>
      assert(reg.functionExists(org.apache.spark.sql.catalyst.FunctionIdentifier(n)),
        s"$n missing from the extension-populated registry")
    }
    // and the injected builder actually constructs a working expression
    val built = reg.lookupFunctionBuilder(
      org.apache.spark.sql.catalyst.FunctionIdentifier("md5_prefix60")).get
    val e = built(Seq(org.apache.spark.sql.catalyst.expressions.Literal(
      "abc".getBytes("UTF-8"))))
    // the first 15 hex digits of md5("abc") = 900150983cd24fb0d69…
    assert(e.eval() == 0x900150983cd24fbL)
    assert(graft.functions.Similarity.md5Prefix60("abc") == 0x900150983cd24fbL)
  }

  test("melt produces long form; transpose inverts it") {
    val long = Reshape.melt(df, Seq("id"), Seq("name", "score"))
    assert(long.columns.toSeq == Seq("id", "attribute", "value"))
    assert(long.count() == 4)
    val wide = Reshape.transpose(long, "id", "attribute", "value")
    assert(wide.columns.sorted.toSeq == Seq("id", "name", "score"))
    assert(wide.count() == 2)
  }

  test("pairwiseReduce matches linear reduce") {
    assert(Reshape.pairwiseReduce(Seq(1, 2, 3, 4, 5))(_ + _) == 15)
    assert(Reshape.pairwiseReduce(Seq("a"))(_ + _) == "a")
  }

  test("NumExpr.dmean is the exact decimal mean") {
    val d = Seq(1.0, 2.0, 4.0).toDF("x")
    val m = d.agg(NumExpr.dmean(col("x"))).first().getDouble(0)
    assert(m == 7.0 / 3)
  }

  test("NumExpr.pcts interpolates like quantile_cont") {
    val d = Seq(1.0, 2.0, 3.0, 4.0).toDF("x")
    val r = d.agg(NumExpr.pcts(col("x"), Seq(0.5, 1.0))).first()
      .getAs[scala.collection.Seq[Double]](0)
    assert(r == Seq(2.5, 4.0))
  }

  // Environment-drift guard: the driver has shipped events.ts both as
  // TIMESTAMP(NANOS) (read as longs) and as timestamp[us] without the UTC
  // flag (read as TIMESTAMP_NTZ). Round 8's regenerate to the latter broke
  // every unix_micros query until Tables normalized it. This spec writes a
  // genuine NTZ parquet, loads it through Tables, and drives a
  // unix_micros-path operator end to end — it fails if the TimestampNTZType
  // branch in Tables.t is removed.
  test("Tables normalizes TIMESTAMP_NTZ ts and unix_micros paths run") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ntz").toString
    spark.range(6)
      .select(
        col("id").as("event_id"),
        (col("id") % 2).cast("string").as("user_id"),
        // 0,1h,2h,... as NTZ — parquet timestamp[us], isAdjustedToUTC=false
        timestamp_micros(col("id") * 3600L * 1000000L)
          .cast(TimestampNTZType).as("ts"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    // confirm the fixture really round-trips as NTZ (else the test is vacuous)
    val raw = spark.read.parquet(s"$dir/events.parquet")
    assert(raw.schema("ts").dataType == TimestampNTZType)

    val ev = Tables(spark, dir).events
    assert(ev.schema("ts").dataType == TimestampType)
    // session TZ is UTC, so the relabel preserves the instant exactly
    assert(ev.orderBy("event_id").select(unix_micros(col("ts"))).as[Long].collect()
      .toSeq == (0 until 6).map(_ * 3600L * 1000000L))
    // 30-min gap → every event its own session; unix_micros analysis must pass
    val sess = graft.functions.DatetimeOps.sessionize(ev, "user_id", "ts")
    assert(sess.groupBy("user_id").agg(max(col("session_idx")))
      .as[(String, Long)].collect().toMap == Map("0" -> 2L, "1" -> 2L))
  }

  // Contract of the relation memo: /root/testdata tables (immutable by
  // contract) resolve once per session and return the SAME frame object;
  // any other dir resolves fresh per call, so the write-then-reread
  // pattern on temp dirs keeps seeing the latest file.
  test("Tables memoizes only the immutable testdata tree") {
    val a = Tables(spark, "/root/testdata/sf0.001").nation
    val b = Tables(spark, "/root/testdata/sf0.001").nation
    assert(a eq b, "testdata relation must be memoized per (session, dir, name)")

    val dir = java.nio.file.Files.createTempDirectory("graft-memo").toString
    spark.range(3).select(col("id").as("n_nationkey"))
      .write.mode("overwrite").parquet(s"$dir/nation.parquet")
    assert(Tables(spark, dir).nation.count() == 3)
    // rewrite in the same session: a fresh resolution must see 5 rows
    spark.range(5).select(col("id").as("n_nationkey"))
      .write.mode("overwrite").parquet(s"$dir/nation.parquet")
    assert(Tables(spark, dir).nation.count() == 5,
      "non-testdata dirs must re-resolve on every access")
  }
}
