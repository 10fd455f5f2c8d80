package graft

import graft.operators.Drift

class DriftSpec extends SparkSpec {
  import spark.implicits._

  test("golden parity: reference test_drift_detector values reproduce") {
    // ref: src/test/anovos/drift_stability/test_drift_detector.py:8-45 —
    // target = rand, source = rand + 1, equal-range 10 bins fitted on
    // source; expected PSI/HD/JSD/KS for the shifted column: 7.6776,
    // 0.7091, 0.3704, 0.4999; identical column: all zeros, not flagged.
    val rand = Seq(0.34, -1.76, 0.32, -0.39, -0.67, 0.61, 1.03, 0.93, -0.84, -0.31)
    val target = rand.toDF("b")
    val source = rand.map(_ + 1).toDF("b")
    val r = Drift.driftStatistics(source, target, Seq("b"), binCount = 10).collect()(0)
    assert(r.getDouble(r.fieldIndex("PSI")) == 7.6776)
    assert(r.getDouble(r.fieldIndex("HD")) == 0.7091)
    assert(r.getDouble(r.fieldIndex("JSD")) == 0.3704)
    assert(r.getDouble(r.fieldIndex("KS")) == 0.4999)
    assert(r.getInt(r.fieldIndex("flagged")) == 1)

    val same = Drift.driftStatistics(target, target, Seq("b"), binCount = 10).collect()(0)
    Seq("PSI", "HD", "JSD", "KS").foreach(m =>
      assert(same.getDouble(same.fieldIndex(m)) == 0.0))
    assert(same.getInt(same.fieldIndex("flagged")) == 0)
  }

  test("golden parity: reference test_stability values reproduce") {
    // ref: src/test/anovos/drift_stability/test_stability.py:13-80 —
    // three 10-value periods; expected cv_mean 0.162, cv_stddev 0.62,
    // cv_kurtosis 0.198, SIs (2, 0, 2), stability index 1.4 (3 d.p.).
    val p1 = Seq(4.34, 4.76, 4.32, 3.39, 3.67, 4.61, 4.03, 4.93, 3.84, 3.31).toDF("a")
    val p2 = Seq(6.34, 4.76, 6.32, 3.39, 5.67, 4.61, 6.03, 4.93, 5.84, 3.31).toDF("a")
    val p3 = Seq(8.34, 4.76, 8.32, 3.39, 7.67, 4.61, 8.03, 4.93, 3.84, 3.31).toDF("a")
    val r = Drift.stabilityIndex(Seq(p1, p2, p3), Seq("a")).collect()(0)
    def g(c: String) = r.getDouble(r.fieldIndex(c))
    // reference asserts at 3 decimal places (assert_almost_equal(..., 3))
    assert(math.abs(g("cv_mean") - 0.162) < 1.5e-3, s"cv_mean ${g("cv_mean")}")
    assert(math.abs(g("cv_stddev") - 0.62) < 5e-3, s"cv_stddev ${g("cv_stddev")}")
    assert(math.abs(g("cv_kurtosis") - 0.198) < 1.5e-3, s"cv_kurtosis ${g("cv_kurtosis")}")
    assert(r.getInt(r.fieldIndex("mean_si")) == 2)
    assert(r.getInt(r.fieldIndex("stddev_si")) == 0)
    assert(r.getInt(r.fieldIndex("kurtosis_si")) == 2)
    assert(g("stability_index") == 1.4)
  }

  test("drift of a distribution against itself is zero") {
    val d = (1 to 500).map(_.toDouble).toDF("x")
    val r = Drift.driftStatistics(d, d, Seq("x")).collect()(0)
    assert(r.getDouble(r.fieldIndex("PSI")) == 0.0)
    assert(r.getDouble(r.fieldIndex("HD")) == 0.0)
    assert(r.getDouble(r.fieldIndex("JSD")) == 0.0)
    assert(r.getDouble(r.fieldIndex("KS")) == 0.0)
    assert(r.getInt(r.fieldIndex("flagged")) == 0)
  }

  test("shifted distribution is flagged") {
    val src = (1 to 500).map(_.toDouble).toDF("x")
    val tgt = (1 to 500).map(i => i.toDouble + 400).toDF("x")
    val r = Drift.driftStatistics(src, tgt, Seq("x")).collect()(0)
    assert(r.getDouble(r.fieldIndex("PSI")) > 0.1)
    assert(r.getInt(r.fieldIndex("flagged")) == 1)
    assert(r.getDouble(r.fieldIndex("KS")) > 0.5)
  }

  test("drift against a persisted source histogram matches the direct path") {
    import graft.operators.ModelStore
    val src = (1 to 500).map(_.toDouble).toDF("x")
    val tgt = (1 to 500).map(i => i.toDouble + 100).toDF("x")
    // a second, all-null source column has no cuts and drops out of both paths
    val nul = org.apache.spark.sql.functions.lit(null).cast("double")
    for ((source, target, cols) <- Seq((src, tgt, Seq("x")),
        (src.withColumn("y", nul), tgt.withColumn("y", nul), Seq("x", "y")))) {
      val direct = Drift.driftStatistics(source, target, cols).collect()
      val dir = java.nio.file.Files.createTempDirectory("drift_model").toString
      ModelStore.saveDriftSource(spark, source, cols, binCount = 10, dir)
      val saved = ModelStore.driftAgainstSavedSource(spark, target, dir).collect()
      assert(saved.length == 1 && direct.length == 1, cols)
      Seq("PSI", "HD", "JSD", "KS").foreach { m =>
        assert(saved(0).getDouble(saved(0).fieldIndex(m)) ==
          direct(0).getDouble(direct(0).fieldIndex(m)), s"$cols $m")
      }
    }
  }

  test("binning / bounds / encoding model save-load round-trips") {
    import graft.operators.{ModelStore, QualityChecker, Transformers}
    val dir = java.nio.file.Files.createTempDirectory("models").toString
    val cuts = Map("a" -> Seq(1.0, 2.0, 3.0), "b" -> Seq(10.0))
    ModelStore.saveBinning(spark, cuts, s"$dir/bins")
    assert(ModelStore.loadBinning(spark, s"$dir/bins") == cuts)

    val bounds = Seq(QualityChecker.OutlierBounds("x", -1.5, 99.5))
    ModelStore.saveOutlierBounds(spark, bounds, s"$dir/bounds")
    assert(ModelStore.loadOutlierBounds(spark, s"$dir/bounds") == bounds)

    val enc = Seq(("a", 0), ("b", 1)).toDF("cat", "cat_index")
    ModelStore.saveModelTable(enc, s"$dir/enc")
    val applied = ModelStore.applyEncodingModel(
      Seq("a", "b", "a").toDF("cat"),
      ModelStore.loadModelTable(spark, s"$dir/enc"), "cat")
    assert(applied.agg(org.apache.spark.sql.functions.sum("cat_index"))
      .first().getLong(0) == 1L)
  }

  test("identical periods give maximum stability index") {
    val p = (1 to 300).map(i => math.sin(i.toDouble) * 10 + 50).toDF("v")
    val r = Drift.stabilityIndex(Seq(p, p, p), Seq("v")).collect()(0)
    assert(r.getDouble(r.fieldIndex("stability_index")) == 4.0)
  }

  test("wildly different periods score low") {
    val p1 = (1 to 300).map(_.toDouble).toDF("v")
    val p2 = (1 to 300).map(i => i * 100.0).toDF("v")
    val p3 = (1 to 300).map(i => -i * 50.0).toDF("v")
    val r = Drift.stabilityIndex(Seq(p1, p2, p3), Seq("v")).collect()(0)
    assert(r.getDouble(r.fieldIndex("stability_index")) < 2.0)
  }

  test("spearman: monotonic map scores 1, sign flips, ties average, layout-invariant") {
    import graft.operators.Association
    val rnd = new scala.util.Random(11)
    val rows = (1 to 400).map { i =>
      val x = rnd.nextDouble() * 10
      // y strictly monotone in x but wildly non-linear; z anti-monotone;
      // t heavy ties (5 levels, monotone in x's bucket)
      (x, math.exp(x), -x * x * x, (x / 2).toInt.toDouble)
    }
    val d = rows.toDF("x", "y", "z", "t")
    val m = Association.spearmanMatrix(d, Seq("t", "x", "y", "z"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(m(("x", "y")) == 1.0, s"monotone pair must rank-correlate 1: ${m(("x", "y"))}")
    assert(m(("x", "z")) == -1.0)
    // Pearson on the same pair is well below 1 (exp is wildly non-linear)
    val p = Association.correlationMatrix(d, Seq("x", "y"))
      .collect().head.getDouble(2)
    assert(p < 0.95, s"fixture too linear for the spearman-vs-pearson contrast: $p")
    // ties: bucketed t is monotone in x up to ties — high but not 1
    assert(m(("t", "x")) > 0.95 && m(("t", "x")) < 1.0, s"tie pair: ${m(("t", "x"))}")
    // partition-layout invariance of the exact fractional ranks
    val m2 = Association.spearmanMatrix(d.repartition(13), Seq("t", "x", "y", "z"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(m2 == m)
  }

  test("acf flags a planted weekly cycle; cusum locates a planted level shift") {
    import graft.functions.DatetimeOps
    // pure 7-day cosine → acf peaks positive at lag 7, dips negative
    // near the half-period
    val cyc = (0 until 56).map { d =>
      val ts = java.sql.Timestamp.valueOf(
        f"2024-0${1 + d / 28}%d-${1 + d % 28}%02d 12:00:00")
      ("c", ts, 100.0 + 10.0 * math.cos(2 * math.Pi * d / 7))
    }.toDF("k", "ts", "v")
    val acf = DatetimeOps.autocorrelation(cyc, "ts", "v", Seq("k"), maxLag = 7)
      .collect().map(r => r.getInt(1) -> r.getDouble(2)).toMap
    // sample ACF attenuates by (n-k)/n — a perfect cycle at lag 7 over
    // 56 days scores exactly 49/56 = 0.875, which pins the formula
    assert(math.abs(acf(7) - 0.875) < 0.001,
      s"lag-7 acf of a perfect weekly cycle should be (n-7)/n = 0.875: ${acf(7)}")
    assert(acf(3) < 0 && acf(4) < 0, s"half-period acf should dip negative: $acf")
    // step series: mean 10 for 30 days then 20 — |cusum| peaks exactly at
    // the last pre-shift day
    val step = (0 until 60).map { d =>
      val ts = java.sql.Timestamp.valueOf(
        f"2024-0${1 + d / 28}%d-${1 + d % 28}%02d 12:00:00")
      ("s", ts, if (d < 30) 10.0 else 20.0)
    }.toDF("k", "ts", "v")
    val cp = DatetimeOps.cusumChangepoints(step, "ts", "v", Seq("k"), threshold = 5.0)
      .collect().head
    assert(cp.getString(1) == "2024-02-02", // d = 29, the last 10.0 day
      s"changepoint at ${cp.getString(1)}")
    assert(cp.getBoolean(3), s"a 2-sigma step over 30 days must flag: $cp")
    // a pure-noise-free flat series scores no shift
    val flat = (0 until 60).map { d =>
      val ts = java.sql.Timestamp.valueOf(
        f"2024-0${1 + d / 28}%d-${1 + d % 28}%02d 12:00:00")
      ("f", ts, 10.0 + (d % 2))  // alternating, mean-stable
    }.toDF("k", "ts", "v")
    val cpFlat = DatetimeOps.cusumChangepoints(flat, "ts", "v", Seq("k")).collect().head
    assert(!cpFlat.getBoolean(3), s"stable series must not flag: $cpFlat")
  }

  test("categorical association: perfect dependence, independence, and invariance") {
    import graft.operators.Association
    // x determines y (bijective) → V = 1 and MI = H(x) = ln(4);
    // z is uniform and independent of both → V ≈ 0, MI ≈ 0 exactly
    // (counts are perfectly balanced, so the estimates are exact zeros)
    val d = (0 until 400).map { i =>
      (s"x${i % 4}", s"y${(i % 4 + 1) % 4}", s"z${(i / 4) % 2}")
    }.toDF("x", "y", "z")
    val m = Association.catAssociation(d, Seq("x", "y", "z"))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getDouble(2), r.getDouble(4)))).toMap
    val (miXY, vXY) = m(("x", "y"))
    assert(vXY == 1.0, s"bijective pair must score V=1: $vXY")
    assert(math.abs(miXY - math.log(4.0)) < 1e-4, s"MI should equal H = ln 4: $miXY")
    val (miXZ, vXZ) = m(("x", "z"))
    assert(miXZ == 0.0 && vXZ == 0.0, s"balanced independent pair: mi=$miXZ v=$vXZ")
    // layout invariance
    val m2 = Association.catAssociation(d.repartition(7), Seq("x", "y", "z"))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getDouble(2), r.getDouble(4)))).toMap
    assert(m2 == m)
  }

  test("degenerate series survive under ANSI: constant acf/cusum, single-category V, n=1 moments") {
    import graft.functions.DatetimeOps
    import graft.operators.{Association, SketchStore}
    // constant daily totals: zero deviation mass — acf/pacf undefined
    // (null), cusum unshifted with null peak; under this build's default
    // ANSI mode an unguarded 0/0 would THROW, so completing at all is
    // the point of the test
    val flat = (0 until 30).map { d =>
      val day = java.time.LocalDate.of(2024, 1, 1).plusDays(d)
      ("f", java.sql.Timestamp.valueOf(day.atTime(12, 0)), 5.0)
    }.toDF("k", "ts", "v")
    val acf = DatetimeOps.autocorrelation(flat, "ts", "v", Seq("k"), maxLag = 3).collect()
    assert(acf.length == 3 && acf.forall(_.isNullAt(2)), "constant-series acf must be null")
    val cp = DatetimeOps.cusumChangepoints(flat, "ts", "v", Seq("k")).collect().head
    assert(cp.isNullAt(2) && !cp.getBoolean(3), s"constant series: $cp")
    // single-category column: min(R,C)-1 = 0 — V null, MI still defined (0)
    val oneCat = (1 to 50).map(i => (s"x${i % 3}", "only")).toDF("x", "y")
    val assoc = Association.catAssociation(oneCat, Seq("x", "y")).collect().head
    assert(assoc.getDouble(2) == 0.0 && assoc.isNullAt(4), s"single-category pair: $assoc")
    // single-row group: sample variance undefined — null, not a crash
    val single = Seq(("g1", 1.0), ("g2", 2.0), ("g2", 4.0)).toDF("g", "v")
    val m = SketchStore.mergeMoments(
      SketchStore.momentSketches(single, Seq("g"), "v"), Seq("g"))
      .collect().map(r => r.getString(0) -> r).toMap
    assert(m("g1").isNullAt(3) && m("g1").getDouble(2) == 1.0)
    assert(m("g2").getDouble(3) == 2.0) // var of {2,4}
  }

  test("theil's u: asymmetric dependence, independence, single-category guard") {
    import graft.operators.Association
    // y determines x (each y value maps to one x) but x does NOT
    // determine y (each x maps to two y's): U(x|y)=1, U(y|x)<1 — the
    // asymmetry Cramér's V cannot express
    val d = (0 until 240).map { i =>
      val y = i % 6
      (s"x${y / 2}", s"y$y", s"z${(i / 6) % 2}", "only")
    }.toDF("x", "y", "z", "w")
    val u = Association.theilsU(d, Seq("x", "y", "z"))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getDouble(2), r.getDouble(3)))).toMap
    val (uXgivenY, uYgivenX) = u(("x", "y"))
    assert(uXgivenY == 1.0, s"y determines x: $uXgivenY")
    assert(uYgivenX > 0.4 && uYgivenX < 0.7, s"x half-determines y: $uYgivenX")
    // balanced independent pair → exact zeros both ways
    assert(u(("x", "z")) == ((0.0, 0.0)), s"independent: ${u(("x", "z"))}")
    // single-category side: H = 0 → null, not a crash. Pairs order
    // lexically, so the constant 'w' is attribute_1: U(w|x) is undefined
    // (null) while U(x|w) = 0 (a constant explains nothing)
    val g = Association.theilsU(d, Seq("x", "w")).collect().head
    assert(g.getString(0) == "w" && g.isNullAt(2) && g.getDouble(3) == 0.0,
      s"constant-column row: $g")
  }

  test("contingency association refuses high-cardinality columns") {
    import graft.operators.Association
    // an ID column passed by mistake would turn the contingency-frame
    // marginal windows into a near-data-sized single-partition shuffle
    // at scale — the guard must refuse it up front, and a deliberate
    // maxCardinality raise must let the same call through
    val d = (0 until 30000).map(i => (s"id_$i", s"g${i % 4}")).toDF("id", "g")
    val e1 = intercept[IllegalArgumentException] {
      Association.catAssociation(d, Seq("id", "g"))
    }
    assert(e1.getMessage.contains("maxCardinality"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      Association.theilsU(d, Seq("id", "g"))
    }
    assert(e2.getMessage.contains("maxCardinality"), e2.getMessage)
    // raising the cap is an explicit opt-in and still computes correctly
    val ok = Association.catAssociation(d, Seq("id", "g"), maxCardinality = 50000)
      .collect()
    assert(ok.length == 1 && ok.head.getString(0) == "g")
  }

  test("correlation ratio: determined, independent, and constant-column cases") {
    import graft.operators.Association
    // y fully determined by the category → η = 1; z balanced and
    // identical across categories → η = 0; constant w → η null
    val d = (0 until 300).map { i =>
      (s"c${i % 3}", (i % 3) * 10.0, (i % 5).toDouble, 7.0)
    }.toDF("cat", "y", "z", "w")
    val r = Association.correlationRatio(d, Seq("cat"), Seq("y", "z", "w"))
      .collect().map(row => row.getString(1) ->
        (if (row.isNullAt(2)) None else Some(row.getDouble(2)))).toMap
    assert(r("y") == Some(1.0), s"determined: ${r("y")}")
    assert(r("z") == Some(0.0), s"independent balanced: ${r("z")}")
    assert(r("w") == None, s"constant numeric must be undefined: ${r("w")}")
  }

  test("pacf cuts off after lag 1 on an AR(1) series") {
    import graft.functions.DatetimeOps
    val rnd = new scala.util.Random(7)
    var x = 0.0
    val rows = (0 until 240).map { d =>
      x = 0.8 * x + rnd.nextGaussian()
      val day = java.time.LocalDate.of(2024, 1, 1).plusDays(d)
      ("a", java.sql.Timestamp.valueOf(day.atTime(12, 0)), 100.0 + x)
    }.toDF("k", "ts", "v")
    val pacf = DatetimeOps.partialAutocorrelation(rows, "ts", "v", Seq("k"), maxLag = 4)
      .collect().map(r => r.getInt(1) -> r.getDouble(2)).toMap
    // AR(1) with rho=0.8: pacf(1) ~ rho, pacf(k>=2) ~ 0 (within the
    // ~1/sqrt(n) sample band)
    assert(pacf(1) > 0.6, s"pacf(1) should approach rho=0.8: $pacf")
    (2 to 4).foreach { k =>
      assert(math.abs(pacf(k)) < 0.2, s"pacf($k) should cut off: $pacf")
    }
    // and the acf of the same series decays geometrically instead
    val acf = DatetimeOps.autocorrelation(rows, "ts", "v", Seq("k"), maxLag = 4)
      .collect().map(r => r.getInt(1) -> r.getDouble(2)).toMap
    assert(acf(2) > 0.3, s"ar(1) acf(2) ~ rho^2 stays well above 0: $acf")
  }

  test("seasonal decomposition recovers a planted weekly pattern") {
    import graft.functions.DatetimeOps
    // 8 weeks of daily points: level 100, planted day-of-period offsets
    // (zero-sum), no trend slope — so trend ≈ level, seasonal ≈ offsets
    val offsets = Array(6.0, -2.0, 3.0, -4.0, 1.0, -5.0, 1.0) // sums to 0
    val rows = (0 until 56).map { d =>
      // spread across two months to keep dates unique
      val ts = java.sql.Timestamp.valueOf(
        f"2024-0${1 + d / 28}%d-${1 + d % 28}%02d 12:00:00")
      ("a", ts, 100.0 + offsets(d % 7))
    }
    val df = rows.toDF("k", "ts", "v")
    val out = DatetimeOps.seasonalDecompose(df, "ts", "v", Seq("k"), period = 7)
      .collect()
    assert(out.length == 56)
    val withTrend = out.filter(!_.isNullAt(3))
    // full-window edge rule: 3 rows lost at each end of the series
    assert(withTrend.length == 56 - 6)
    withTrend.foreach { r =>
      assert(math.abs(r.getDouble(3) - 100.0) < 1e-9,
        s"flat-level trend should be 100: ${r.getDouble(3)}")
      assert(math.abs(r.getDouble(5)) < 1e-9,
        s"planted signal should leave no residual: ${r.getDouble(5)}")
    }
    // seasonal component reproduces the planted zero-sum offsets; map by
    // the value itself (day 1 of the series is offset index 0)
    val seasonalByDay = out.map(r => r.getString(1) -> r.getDouble(4)).toMap
    val firstDays = out.map(_.getString(1)).sorted.take(7)
    firstDays.zipWithIndex.foreach { case (day, i) =>
      assert(math.abs(seasonalByDay(day) - offsets(i)) < 1e-9,
        s"day $day seasonal ${seasonalByDay(day)} != planted ${offsets(i)}")
    }
  }
}
