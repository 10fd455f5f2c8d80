package graft

import graft.operators.StatsGenerator
import org.apache.spark.sql.Row

class StatsSpec extends SparkSpec {

  test("hll sketch store: union-of-parts equals whole, survives disk round-trip") {
    import graft.operators.SketchStore
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    val d = (1 to 20000).map(i => (s"d${i % 4}", i % 3777)).toDF("day", "v")
    // per-day sketches → union estimate must EQUAL the direct
    // whole-table sketch estimate (sketch merge is exact over state)
    val parts = SketchStore.hllSketches(d, Seq("day"), "v")
    val whole = SketchStore.hllSketches(d.withColumn("day", lit("all")), Seq("day"), "v")
    val uEst = SketchStore.unionEstimate(parts).first().getLong(0)
    val wEst = SketchStore.unionEstimate(whole).first().getLong(0)
    assert(uEst == wEst, s"union $uEst != whole $wEst")
    // estimate within the lgK=12 error envelope of the exact count
    assert(math.abs(uEst - 3777.0) / 3777.0 < 0.05, s"estimate $uEst vs 3777")
    // binary sketches survive a parquet round-trip (the STORE part)
    val dir = java.nio.file.Files.createTempDirectory("sketches").toString
    parts.write.parquet(s"$dir/s")
    val back = SketchStore.unionEstimate(spark.read.parquet(s"$dir/s")).first().getLong(0)
    assert(back == uEst)
    // coarser re-group: pairs of days still union exactly
    val regrouped = SketchStore.unionEstimate(
      parts.withColumn("half", col("day").isin("d0", "d1")), Seq("half"))
    assert(regrouped.collect().map(_.getLong(1)).sum >= uEst, "halves cover the whole")
  }

  test("hll intersection: exact in list mode, error-bounded in the estimating regime") {
    import graft.operators.SketchStore
    import spark.implicits._
    // list mode: small distinct sets → inclusion-exclusion is exact.
    // A = {1..30}, B = {21..60}: |A∩B| = 10
    val small = ((1 to 30).map(("a", _)) ++ (21 to 60).map(("b", _)))
      .toDF("src", "v")
    val sk = SketchStore.hllSketches(small, Seq("src"), "v")
    val r = SketchStore.intersectionEstimate(sk, "src", Seq("a"), Seq("b")).first()
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) == ((30L, 40L, 60L, 10L)),
      s"list-mode intersection must be exact: $r")
    // estimating regime: 40k-element sets with 20k overlap — the
    // compounded error of three estimates stays within ~3x one rsd
    val big = ((1 to 40000).map(("a", _)) ++ (20001 to 60000).map(("b", _)))
      .toDF("src", "v")
    val skBig = SketchStore.hllSketches(big, Seq("src"), "v")
    val rb = SketchStore.intersectionEstimate(skBig, "src", Seq("a"), Seq("b")).first()
    val inter = rb.getLong(3)
    assert(math.abs(inter - 20000.0) / 20000.0 < 0.15,
      s"estimating-regime intersection too far off: $inter vs 20000")
  }

  test("moments store: any batch split merges to the identical exact stats") {
    import graft.operators.SketchStore
    import spark.implicits._
    import org.apache.spark.sql.functions.lit
    val d = (1 to 5000).map(i => (s"g${i % 3}", s"b${i % 7}", i * 0.01)).toDF("g", "batch", "v")
    // merge of 7 per-batch sketch rows == direct single-pass stats,
    // bit-for-bit (the decimal-merge claim)
    val parts = SketchStore.momentSketches(d, Seq("g", "batch"), "v")
    val merged = SketchStore.mergeMoments(parts, Seq("g"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap
    val direct = SketchStore.mergeMoments(
      SketchStore.momentSketches(d.withColumn("batch", lit("all")), Seq("g", "batch"), "v"),
      Seq("g"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(merged == direct, s"merge-of-parts diverged:\n$merged\n$direct")
    // and against the straightforward definition on one group
    val g0 = (1 to 5000).filter(_ % 3 == 0).map(_ * 0.01)
    val mean = g0.sum / g0.size
    assert(math.abs(merged("g0")._2 - mean) < 1e-3)
    // global (no regroup) rollup covers every row once
    assert(SketchStore.mergeMoments(parts).first().getLong(0) == 5000L)
  }

  test("gini and hhi: closed-form equality, single-holder, uniform cases") {
    import graft.operators.StatsGenerator
    import spark.implicits._
    // perfect equality → gini 0
    val eq = Seq.fill(100)(7.5).toDF("x")
    assert(StatsGenerator.giniCoefficient(eq, Seq("x")).first().getDouble(1) == 0.0)
    // one holder owns everything → gini (n−1)/n = 0.99 at n=100
    val one = (Seq.fill(99)(0.0) :+ 500.0).toDF("x")
    assert(StatsGenerator.giniCoefficient(one, Seq("x")).first().getDouble(1) == 0.99)
    // uniform ladder 1..n → closed form (n−1)/(3n)... check against the
    // direct formula instead of a constant: G = 2Σi·i/(n·Σi) − (n+1)/n
    val n = 200
    val ladder = (1 to n).map(_.toDouble).toDF("x")
    val s1 = (1 to n).map(i => i.toLong * i).sum.toDouble
    val s = (1 to n).sum.toDouble
    val want = BigDecimal(2.0 * s1 / (n * s) - (n + 1.0) / n)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(StatsGenerator.giniCoefficient(ladder, Seq("x")).first().getDouble(1) == want)
    // partition invariance of the prefix machinery
    assert(StatsGenerator.giniCoefficient(ladder.repartition(13), Seq("x"))
      .first().getDouble(1) == want)
    // uniform shares over k groups → hhi = 1/k, top share 1/k
    val g = (0 until 400).map(i => (s"s${i % 8}", 10.0)).toDF("src", "w")
    val h = StatsGenerator.hhiConcentration(g, "src", "w").first()
    assert(h.getDouble(0) == 0.125 && h.getDouble(1) == 0.125 && h.getLong(2) == 8L)
  }

  test("benford: conforming sample passes, uniform digits flagged, edge digits exact") {
    import graft.operators.StatsGenerator
    import spark.implicits._
    // geometric progression x_k = 1.07^k covers ~decades uniformly in
    // log space — the canonical Benford-conforming sequence
    val conforming = (0 until 300).map(k => math.pow(1.07, k) % 1e6 + 0.01).toDF("x")
    val c = StatsGenerator.benfordTest(conforming, Seq("x")).first()
    assert(c.getLong(1) == 300 && c.getDouble(3) < 0.08,
      s"log-uniform sample should conform (300-sample noise ~0.05): $c")
    // uniform leading digits (100..999 uniform) wildly violate Benford
    val uniform = (100 until 1000).map(_.toDouble).toDF("x")
    val u = StatsGenerator.benfordTest(uniform, Seq("x")).first()
    assert(u.getDouble(2) > 50, s"uniform digits must flag: $u")
    // exact digit extraction: 0.0001 -> 1, 9999.9999 -> 9, negatives by
    // magnitude, zeros excluded, empty column -> null stats not a crash
    val edge = Seq(0.0001, 9999.9999, -0.0002, 0.0, -300.5).toDF("x")
    val e = StatsGenerator.benfordTest(edge, Seq("x")).first()
    assert(e.getLong(1) == 4, s"zeros excluded: $e")
    val empty = Seq.empty[Double].toDF("x")
    val z = StatsGenerator.benfordTest(empty, Seq("x")).first()
    assert(z.getLong(1) == 0 && z.isNullAt(2) && z.isNullAt(3))
  }

  test("hll sketch store: fixed-input estimates are pinned exactly") {
    // golden pin of the APPROXIMATE regime: these exact estimate values
    // are a property of the Datasketches HLL_4 implementation shipped
    // with this Spark build — a silent library upgrade that changes
    // register hashing or the estimator would shift them, and this is
    // the tripwire (the error-envelope test above would not notice a
    // small systematic change). Inputs are fully deterministic.
    import graft.operators.SketchStore
    import spark.implicits._
    import org.apache.spark.sql.functions.lit
    val golden = Map(100 -> 100L, 5000 -> 4986L, 50000 -> 51825L)
    golden.foreach { case (n, want) =>
      val d = (1 to n).map(i => ("g", i)).toDF("g", "v")
      val est = SketchStore.unionEstimate(SketchStore.hllSketches(d, Seq("g"), "v"))
        .first().getLong(0)
      assert(est == want,
        s"pinned HLL estimate for n=$n moved: got $est, want $want — " +
          "sketch library behavior changed")
    }
  }

  import spark.implicits._

  private def df = Seq(
    (Some(1.0), Some("x")),
    (Some(2.0), Some("y")),
    (None: Option[Double], Some("x")),
    (Some(0.0), None: Option[String])
  ).toDF("num", "cat")

  private def byAttr(rows: Array[Row]): Map[String, Row] =
    rows.map(r => r.getString(r.fieldIndex("attribute")) -> r).toMap

  test("missingCount counts nulls per column") {
    val m = byAttr(StatsGenerator.missingCount(df, Seq("num", "cat")).collect())
    assert(m("num").getLong(1) == 1 && m("num").getDouble(2) == 0.25)
    assert(m("cat").getLong(1) == 1)
  }

  test("nonzeroCount excludes zeros and nulls") {
    val m = byAttr(StatsGenerator.nonzeroCount(df, Seq("num")).collect())
    assert(m("num").getLong(1) == 2)
  }

  test("mode picks most frequent with deterministic tie-break") {
    val m = byAttr(StatsGenerator.modeComputation(df, Seq("cat")).collect())
    assert(m("cat").getString(1) == "x")
    assert(m("cat").getLong(2) == 2)
    // tie-break: smaller value wins
    val tied = Seq("b", "a", "a", "b").toDF("c")
    val t = StatsGenerator.modeComputation(tied, Seq("c")).collect()(0)
    assert(t.getString(1) == "a")
  }

  test("uniqueCount exact and cardinality IDness") {
    val m = byAttr(StatsGenerator.uniqueCount(df, Seq("num", "cat")).collect())
    assert(m("num").getLong(1) == 3)
    assert(m("cat").getLong(1) == 2)
    val card = byAttr(StatsGenerator.measuresOfCardinality(df, Seq("cat")).collect())
    assert(card("cat").getDouble(2) == 0.6667) // 2 uniques / 3 non-null, round 4
  }

  test("centralTendency mean + exact median") {
    val m = byAttr(StatsGenerator.centralTendency(df, Seq("num")).collect())
    assert(m("num").getDouble(1) == 1.0) // (1+2+0)/3
    assert(m("num").getDouble(2) == 1.0) // median of {0,1,2}
  }

  test("percentiles are exact order statistics") {
    val d = (1 to 100).map(_.toDouble).toDF("x")
    val r = StatsGenerator.measuresOfPercentiles(d, Seq("x")).collect()(0)
    assert(r.getDouble(r.fieldIndex("min")) == 1.0)
    assert(r.getDouble(r.fieldIndex("pct_50")) == 50.5)
    assert(r.getDouble(r.fieldIndex("max")) == 100.0)
  }

  test("histogram selection: forced rounds, point-mass skew, nulls, constants") {
    // collectCap=10 forces histogram narrowing (multiple rounds) instead
    // of the straight collect path; values include a heavy point mass at
    // 7.0 (the per-bucket min==max early resolve) and interleaved nulls
    val vals: Seq[java.lang.Double] =
      (1 to 500).map(i => java.lang.Double.valueOf(i.toDouble)) ++
        Seq.fill(2000)(java.lang.Double.valueOf(7.0)) ++
        Seq.fill(100)(null.asInstanceOf[java.lang.Double])
    val d = vals.zipWithIndex
      .map { case (v, i) => (i.toLong, v, 42.0, null.asInstanceOf[java.lang.Double]) }
      .toDF("id", "x", "const", "allnull")
    val out = StatsGenerator.exactPercentiles(d, Seq("x", "const", "allnull"),
      StatsGenerator.percentilePoints, buckets = 16, collectCap = 10)
      .collect().map(r => r.getString(0) -> r).toMap
    // cross-check every point against the percentile() aggregate
    val want = d.select(graft.core.NumExpr.pcts(
      org.apache.spark.sql.functions.col("x"),
      StatsGenerator.percentilePoints).as("q")).collect()(0).getSeq[Double](0)
    val got = out("x").getSeq[Double](4)
    assert(got == want)
    assert(out("x").getLong(1) == 2500L)
    assert(out("const").getSeq[Double](4).forall(_ == 42.0))
    assert(out("allnull").getLong(1) == 0L && out("allnull").isNullAt(4))
  }

  test("histogram selection interpolates like the percentile aggregate") {
    // (1 - f) * lo + f * hi, the form of Spark's `percentile` and of
    // DuckDB's quantile_cont; lo + f * (hi - lo) gives 0.4 here
    val d = Seq(0.1, 0.7).toDF("x")
    val got = StatsGenerator.exactPercentiles(d, Seq("x"), Seq(0.5))
      .collect()(0).getSeq[Double](4).head
    val want = d.select(graft.core.NumExpr.pcts(
      org.apache.spark.sql.functions.col("x"), Seq(0.5)).as("q")).collect()(0).getSeq[Double](0).head
    assert(got == 0.39999999999999997 && got == want, s"$got vs $want")
  }

  test("fused extras on the percentile scan equal a standalone aggregate") {
    import org.apache.spark.sql.functions.{avg, col, count => fcount, stddev_samp, sum}
    // mixed nulls + a second column so the fused scan carries raw
    // passthroughs next to the __ep__ cast columns
    val vals: Seq[(java.lang.Double, java.lang.Double)] =
      (1 to 500).map(i => (java.lang.Double.valueOf(i.toDouble),
        java.lang.Double.valueOf((i % 7).toDouble))) ++
        Seq((null.asInstanceOf[java.lang.Double], java.lang.Double.valueOf(3.0)))
    val d = vals.toDF("x", "y")
    val extras = Seq(
      avg(col("x")).as("m__x"), stddev_samp(col("x")).as("s__x"),
      sum(col("y")).as("t__y"), fcount(col("y")).as("n__y_raw"))
    val (pct, row) = StatsGenerator.exactPercentilesWith(
      d, Seq("x", "y"), Seq(0.25, 0.5, 0.75), extras)
    // extras match the standalone aggregate bit-for-bit on this fixture
    val want = d.agg(extras.head, extras.tail: _*).collect()(0)
    Seq("m__x", "s__x", "t__y").foreach { c =>
      assert(row.getDouble(row.fieldIndex(c)) == want.getDouble(want.fieldIndex(c)),
        s"$c fused != standalone")
    }
    assert(row.getLong(row.fieldIndex("n__y_raw")) == 501L)
    // the percentile frame is unchanged by the fused extras
    val plain = StatsGenerator.exactPercentiles(d, Seq("x", "y"), Seq(0.25, 0.5, 0.75))
      .collect().map(r => r.getString(0) -> r.getSeq[Double](4)).toMap
    pct.collect().foreach { r =>
      assert(r.getSeq[Double](4) == plain(r.getString(0)), s"${r.getString(0)} qs drifted")
    }
  }

  test("approx cardinality (HLL) stays within 5% of exact") {
    val d = (1 to 20000).map(i => (i % 5000).toLong).toDF("x")
    val exact = StatsGenerator.uniqueCount(d, Seq("x")).collect()(0).getLong(1)
    val approx = StatsGenerator.uniqueCount(d, Seq("x"), approx = true).collect()(0).getLong(1)
    assert(exact == 5000L)
    // rsd=0.05 is a standard deviation, not a bound — allow 3 sigma
    assert(math.abs(approx - exact).toDouble / exact < 0.15, s"HLL off: $approx vs $exact")
    val tight = StatsGenerator.uniqueCount(d, Seq("x"), approx = true, rsd = 0.01)
      .collect()(0).getLong(1)
    assert(math.abs(tight - exact).toDouble / exact < 0.03, s"HLL rsd=0.01 off: $tight")
  }

  test("approx percentiles (GK sketch) stay within 1% relative rank") {
    val d = (1 to 10000).map(_.toDouble).toDF("x")
    val exact = StatsGenerator.measuresOfPercentiles(d, Seq("x")).collect()(0)
    val approx = StatsGenerator.measuresOfPercentiles(d, Seq("x"), approx = true).collect()(0)
    Seq("pct_25", "pct_50", "pct_75").foreach { c =>
      val e = exact.getDouble(exact.fieldIndex(c))
      val a = approx.getDouble(approx.fieldIndex(c))
      assert(math.abs(a - e) / 10000 < 0.01, s"$c: $a vs $e")
    }
  }

  test("wide tables chunk into multiple aggregations with identical results") {
    val n = 130
    val row = org.apache.spark.sql.Row.fromSeq((0 until n).map(_.toDouble))
    val schema = org.apache.spark.sql.types.StructType(
      (0 until n).map(i => org.apache.spark.sql.types.StructField(s"c$i",
        org.apache.spark.sql.types.DoubleType)))
    val df = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](java.util.List.of(row, row)), schema)
    val out = StatsGenerator.missingCount(df, df.columns.toSeq)
    assert(out.count() == n)
    assert(out.filter($"missing_count" =!= 0).count() == 0)
    val ct = StatsGenerator.centralTendency(df, df.columns.toSeq).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(ct("c7") == 7.0 && ct("c129") == 129.0)
  }

  test("globalSummary reports row and role counts") {
    val g = StatsGenerator.globalSummary(df).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(g("rows_count") == "4" && g("numcols_count") == "1" && g("catcols_count") == "1")
  }

  test("golden parity: reference shape / dispersion / central-tendency values") {
    import spark.implicits._
    // the canonical 4-row frame from the reference's stats tests
    // (test_stats_generator.py:292-341, :451-507, :570-604)
    val d = Seq(
      ("27520a", 51, Some("HS-grad")),
      ("10a", 42, Some("Postgrad")),
      ("11a", 55, None: Option[String]),
      ("1100b", 23, Some("HS-grad"))
    ).toDF("ifa", "age", "education")
    val shape = StatsGenerator.measuresOfShape(d, Seq("age")).collect()(0)
    assert(shape.getAs[Double]("skewness") == -0.7063)
    assert(shape.getAs[Double]("kurtosis") == -1.0646)
    val disp = StatsGenerator.measuresOfDispersion(d, Seq("age")).collect()(0)
    assert(disp.getAs[Double]("stddev") == 14.2449)
    // ref gets 202.9172 by squaring the ALREADY-ROUNDED stddev
    // (stats_generator.py:819); we round the exact var_samp instead
    assert(disp.getAs[Double]("variance") == 202.9167)
    assert(disp.getAs[Double]("cov") == 0.3332)
    // ref IQR is 28.0 from percentile_approx's nearest-rank quartiles;
    // ours interpolates (quantile_cont semantics, oracle-matched) →
    // documented deviation, so IQR is asserted against the exact value
    assert(disp.getAs[Double]("IQR") == 14.75) // Q3 52 − Q1 37.25
    val ct = StatsGenerator.centralTendency(d, Seq("age")).collect()(0)
    assert(ct.getAs[Double]("mean") == 42.75)
    // ref median 42.0 is again nearest-rank; exact interpolated = 46.5
    assert(ct.getAs[Double]("median") == 46.5)
    val mode = StatsGenerator.modeComputation(d, Seq("education")).collect()(0)
    assert(mode.getAs[String]("mode") == "HS-grad")
    assert(mode.getAs[Double]("mode_pct") == 0.6667) // 2 of 3 non-null
  }

  test("golden parity: reference missing/unique/mode/nonzero/percentile values") {
    import spark.implicits._
    // test_stats_generator.py:29-66 missingCount fixture
    val d1 = Seq(
      ("27520a", 51, Some("HS-grad")),
      ("10a", 42, Some("Postgrad")),
      ("11a", 55, None: Option[String]),
      ("1100b", 23, Some("HS-grad"))
    ).toDF("ifa", "age", "education")
    val miss = StatsGenerator.missingCount(d1, Seq("ifa", "age", "education"))
    assert(miss.count() == 3)
    val edMiss = miss.filter($"attribute" === "education").collect()(0)
    assert(edMiss.getAs[Long]("missing_count") == 1L)
    assert(edMiss.getAs[Double]("missing_pct") == 0.25)

    // :68-183 uniqueCount + :342-420 cardinality fixture (engagement all-0)
    val d5 = Seq(
      ("27520a", 51, Some("HS-grad"), 0.0),
      ("10a", 42, Some("Postgrad"), 0.0),
      ("11a", 55, None: Option[String], 0.0),
      ("1100b", 23, Some("HS-grad"), 0.0)
    ).toDF("ifa", "age", "education", "engagement")
    val uniq = StatsGenerator.uniqueCount(d5, Seq("ifa", "age", "education", "engagement"))
      .collect().map(r => r.getString(0) -> r.getAs[Long]("unique_values")).toMap
    assert(uniq("education") == 2L && uniq("age") == 4L && uniq("engagement") == 1L)
    val card = StatsGenerator.measuresOfCardinality(d5, Seq("age", "education", "engagement"))
      .collect().map(r => r.getString(0) -> r.getAs[Double]("IDness")).toMap
    assert(card("age") == 1.0 && card("education") == 0.6667 && card("engagement") == 0.25)

    // :186-235 mode fixture (5 rows; age ties 42×2 vs singletons)
    val d2 = Seq(
      ("27520a", 51, Some("HS-grad")),
      ("10a", 42, Some("Postgrad")),
      ("11a", 55, None: Option[String]),
      ("13a", 42, Some("HS-grad")),
      ("1100b", 23, Some("HS-grad"))
    ).toDF("ifa", "age", "education")
    val modes = StatsGenerator.modeComputation(d2, Seq("age", "education"))
      .collect().map(r => r.getString(0) -> (r.getAs[String]("mode"), r.getAs[Long]("mode_count"))).toMap
    assert(modes("education") == ("HS-grad", 3L))
    assert(modes("age") == ("42", 2L))

    // :238-291 nonzero fixture (age has a 0, income a null)
    val d3 = Seq(
      ("27520a", 51, Some(9000), Some("HS-grad")),
      ("10a", 42, Some(7000), Some("Postgrad")),
      ("11a", 0, None: Option[Int], None: Option[String]),
      ("1100b", 23, Some(6000), Some("HS-grad"))
    ).toDF("ifa", "age", "income", "education")
    val nz = StatsGenerator.nonzeroCount(d3, Seq("age", "income"))
      .collect().map(r => r.getString(0) ->
        (r.getAs[Long]("nonzero_count"), r.getAs[Double]("nonzero_pct"))).toMap
    assert(nz("age") == (3L, 0.75) && nz("income") == (3L, 0.75))

    // :608-720 percentile fixture — exact min/max equalities plus the
    // reference's monotone upper bounds (its own asserts are <=; the
    // exact-interpolated values satisfy the same envelope)
    val d10 = Seq(
      ("27520a", 51, Some(9000), "HS-grad"),
      ("10a", 42, Some(7000), "HS-grad"),
      ("11a", 35, None: Option[Int], "HS-grad"),
      ("1100g", 33, Some(7500), "matric"),
      ("11d", 45, Some(9500), "HS-grad"),
      ("1100b", 23, Some(6000), "matric")
    ).toDF("ifa", "age", "income", "education")
    val pct = StatsGenerator.measuresOfPercentiles(d10, Seq("age", "income"))
      .collect().map(r => r.getString(0) -> r).toMap
    assert(pct("income").getAs[Double]("min") == 6000.0)
    assert(pct("income").getAs[Double]("max") == 9500.0)
    // ref's <=6000 bound assumes nearest-rank; exact interpolation gives
    // 6000 + 0.4·1000 (documented quantile_cont deviation, oracle-matched)
    assert(pct("income").getAs[Double]("pct_10") == 6400.0)
    assert(pct("income").getAs[Double]("pct_25") <= 7000.0)
    assert(pct("income").getAs[Double]("pct_50") <= 7500.0)
    assert(pct("income").getAs[Double]("pct_75") <= 9000.0)
    assert(pct("income").getAs[Double]("pct_90") <= 9500.0)
    assert(pct("age").getAs[Double]("min") == 23.0)
    assert(pct("age").getAs[Double]("pct_50") <= 38.5 + 1e-9)

    // :608-659 global summary — full 8-row reference schema incl. the
    // ", "-joined name rows
    val gs = StatsGenerator.globalSummary(d1)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(gs.size == 8)
    assert(gs("rows_count") == "4" && gs("columns_count") == "3")
    assert(gs("numcols_count") == "1" && gs("numcols_name") == "age")
    assert(gs("catcols_count") == "2" && gs("catcols_name") == "ifa, education")
    assert(gs("othercols_count") == "0" && gs("othercols_name") == "")
  }

  test("report chart frames: frequency, event rate, comparative drift") {
    import graft.operators.BasicReport
    import org.apache.spark.sql.functions._
    import spark.implicits._

    // editBinRange collapses only same-sided ranges; negative cutoffs
    // (whose '-' signs defeat a naive split) must pass through or
    // collapse on the FULL signed sides
    val lbl = Seq("5.0-5.0", "5.0-7.5", "<= 5.0", "plain",
      "-5.0000--2.0000", "-5.0000--5.0000", "-5.0000-2.0000").toDF("l")
      .select(BasicReport.editBinRange(col("l"))).as[String].collect().toSeq
    assert(lbl == Seq("5.0", "5.0-7.5", "<= 5.0", "plain",
      "-5.0000--2.0000", "-5.0000", "-5.0000-2.0000"))

    // categorical frequency: Missing fill, others marker, pcts sum to 100
    val cat = Seq(Some("a"), Some("a"), Some("others"), None).toDF("c")
    val freq = BasicReport.frequencyChartData(cat, "c")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(freq("a")._1 == 2 && freq("Missing")._1 == 1 && freq("others*")._1 == 1)
    assert(math.abs(freq.values.map(_._2).sum - 100.0) < 1e-6)

    // numeric frequency: bins labeled from cutoffs, counts per bin
    val num = Seq(1.0, 2.0, 3.0, 10.0).toDF("v")
    val nf = BasicReport.frequencyChartData(num, "v", Some(Seq(2.0, 5.0)))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSeq.sortBy(_._1)
    assert(nf == Seq((1, "<= 2.0000", 2L), (2, "2.0000-5.0000", 1L), (3, "> 5.0000", 1L)))

    // event rate: binarized label per category
    val er = Seq(("x", "hi"), ("x", "lo"), ("x", "hi"), ("y", "lo"))
      .toDF("c", "lbl")
    val rates = BasicReport.eventRateChartData(er, "c", "lbl", "hi")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(rates("x") == ((1L, 2L, 66.6667)) && rates("y") == ((1L, 0L, 0.0)))

    // outlier frame: nulls filled with the SAMPLE median, no nulls out,
    // and with fraction >= 1 every row survives (no sampling applied)
    val ov = (1L to 20L).map(i => (i, if (i % 5 == 0) None else Some(i.toDouble)))
      .toDF("id", "v")
      .select(col("id"), col("v").cast("double").as("v"))
    val of = BasicReport.outlierChartData(ov, "v", Seq("id"), sampleSize = 100L)
    assert(of.count() == 20)
    assert(of.filter(col("v").isNull).count() == 0)
    assert(of.select("attribute_name").distinct().head().getString(0) == "v")
    // sampling path: fraction < 1 keeps a strict subset, still null-free
    val ofs = BasicReport.outlierChartData(ov, "v", Seq("id"), sampleSize = 8L)
    val kept = ofs.count()
    assert(kept > 0 && kept < 20, s"expected a strict subset, got $kept")
    assert(ofs.filter(col("v").isNull).count() == 0)

    // comparative drift: full-outer with zero fills and pct diff
    val tgt = Seq("a", "a", "b").toDF("c")
    val src = Seq(("a", 0.5), ("z", 0.5)).toDF("c", "p")
    val cd = BasicReport.comparativeDriftChartData(tgt, src, "c")
      .collect().map(r => r.getString(0) ->
        (r.getDouble(1), r.getDouble(2), Option(r.get(3)).map(_.asInstanceOf[Double]))).toMap
    assert(cd("a") == ((0.5, 0.6667, Some(33.34))))
    assert(cd("b") == ((0.0, 0.3333, None)))
    assert(cd("z") == ((0.5, 0.0, Some(-100.0))))
  }

  test("quantile sketch store: merge-of-parts equals built-once, edges clamp") {
    import graft.operators.SketchStore
    import spark.implicits._
    val d = (1 to 1000).map(i => (i.toLong, if (i % 2 == 0) "a" else "b",
      i.toDouble)).toDF("id", "g", "v")
    val lo = 0.0; val hi = 1000.0; val bins = 1000
    // two independently built batches merge to exactly the single build
    val whole = SketchStore.quantileSketch(d, Seq("g"), "v", lo, hi, bins)
    val parts = SketchStore.quantileSketch(d.filter(org.apache.spark.sql.functions.col("id") <= 500),
        Seq("g"), "v", lo, hi, bins)
      .unionByName(SketchStore.quantileSketch(d.filter(org.apache.spark.sql.functions.col("id") > 500),
        Seq("g"), "v", lo, hi, bins))
    val merged = SketchStore.mergeQuantileSketches(parts, Seq("g"))
    val asMap = (df: org.apache.spark.sql.DataFrame) =>
      df.collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(asMap(merged) == asMap(whole))
    // quantiles answer from the merged store at grid resolution:
    // group a = evens 2..1000 → median cell right-edge 500; p95 950
    val qs = SketchStore.sketchQuantiles(merged, Seq("g"), lo, hi, bins,
        Seq(0.5, 0.95))
      .collect().map(r => (r.getString(0), r.getDouble(1)) -> r.getDouble(2)).toMap
    // right-edge semantics: the 250th even value 500 sits in cell
    // [500, 501) → 501; the 250th odd value 499 in [499, 500) → 500
    assert(qs(("a", 0.5)) == 501.0 && qs(("b", 0.5)) == 500.0)
    assert(math.abs(qs(("a", 0.95)) - 950.0) <= (hi - lo) / bins + 1e-9)
    // out-of-grid values land in the clamp cells and answer lo/hi
    val oob = Seq(("c", -50.0), ("c", -10.0), ("c", 2000.0)).toDF("g", "v")
    val st = SketchStore.quantileSketch(oob, Seq("g"), "v", lo, hi, bins)
    assert(st.collect().map(r => r.getLong(1) -> r.getLong(2)).toMap ==
      Map(0L -> 2L, (bins + 1).toLong -> 1L))
    val qc = SketchStore.sketchQuantiles(st, Seq("g"), lo, hi, bins, Seq(0.5, 1.0))
      .collect().map(r => r.getDouble(1) -> r.getDouble(2)).toMap
    assert(qc(0.5) == lo && qc(1.0) == hi)
  }
}
