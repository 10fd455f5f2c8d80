package graft

import graft.functions.AutoDetect
import org.apache.spark.sql.functions._

/** Per-format vectors for the timestamp auto-detection table
  * (ref: ts_auto_detection.py:95-258 REGEX_PATTERNS_PARSERS).
  * Each case: raw strings → expected detected format → expected UTC
  * render of the cast.
  */
class AutoDetectSpec extends SparkSpec {
  import spark.implicits._

  // (expected format, raw samples, expected "yyyy-MM-dd HH:mm:ss" renders)
  private val vectors: Seq[(String, Seq[String], Seq[String])] = Seq(
    ("yyyy-MM-dd HH:mm:ss", Seq("2024-01-15 09:45:07"), Seq("2024-01-15 09:45:07")),
    ("yyyy-MM-dd'T'HH:mm:ss", Seq("2024-01-15T09:45:07"), Seq("2024-01-15 09:45:07")),
    ("iso_fractional", Seq("2024-01-15 09:45:07.123"), Seq("2024-01-15 09:45:07")),
    ("iso_offset", Seq("2024-01-15T09:45:07+05:30"), Seq("2024-01-15 04:15:07")),
    ("yyyy-MM-dd HH:mm", Seq("2024-01-15 09:45"), Seq("2024-01-15 09:45:00")),
    ("yyyy/M/d HH:mm:ss", Seq("2024/1/15 09:45:07"), Seq("2024-01-15 09:45:07")),
    ("yyyyMMddHHmmss", Seq("20240115094507"), Seq("2024-01-15 09:45:07")),
    ("yyyyMMdd'T'HHmmss", Seq("20240115T094507"), Seq("2024-01-15 09:45:07")),
    ("yyyy-MM-dd h:mm:ss a", Seq("2024-01-15 9:45:07 PM"), Seq("2024-01-15 21:45:07")),
    ("yyyy-MM-dd h:mm a", Seq("2024-01-15 9:45 p.m."), Seq("2024-01-15 21:45:00")),
    ("d/M/yyyy h:mm a", Seq("15/1/2024 9:45 AM"), Seq("2024-01-15 09:45:00")),
    ("d/M/yyyy HH:mm:ss", Seq("15/01/2024 09:45:07"), Seq("2024-01-15 09:45:07")),
    ("d-M-yyyy HH:mm:ss", Seq("15-01-2024 09:45:07"), Seq("2024-01-15 09:45:07")),
    ("M/d/yyyy HH:mm:ss", Seq("01/15/2024 09:45:07"), Seq("2024-01-15 09:45:07")),
    ("M-d-yyyy HH:mm:ss", Seq("01-15-2024 09:45:07"), Seq("2024-01-15 09:45:07")),
    ("yyyy-MM-dd", Seq("2024-01-15"), Seq("2024-01-15 00:00:00")),
    ("yyyy/M/d", Seq("2024/1/15"), Seq("2024-01-15 00:00:00")),
    ("yyyy.M.d", Seq("2024.1.15"), Seq("2024-01-15 00:00:00")),
    ("yyyy M d", Seq("2024 1 15"), Seq("2024-01-15 00:00:00")),
    ("yyyyMMdd", Seq("20240115"), Seq("2024-01-15 00:00:00")),
    ("d/M/yyyy", Seq("15/1/2024"), Seq("2024-01-15 00:00:00")),
    ("d-M-yyyy", Seq("15-1-2024"), Seq("2024-01-15 00:00:00")),
    ("d.M.yyyy", Seq("15.1.2024"), Seq("2024-01-15 00:00:00")),
    ("d M yyyy", Seq("15 1 2024"), Seq("2024-01-15 00:00:00")),
    ("ddMMyyyy", Seq("15012024"), Seq("2024-01-15 00:00:00")),
    ("M/d/yyyy", Seq("1/15/2024"), Seq("2024-01-15 00:00:00")),
    ("M-d-yyyy", Seq("1-15-2024"), Seq("2024-01-15 00:00:00")),
    ("M.d.yyyy", Seq("1.15.2024"), Seq("2024-01-15 00:00:00")),
    ("MMddyyyy", Seq("01152024"), Seq("2024-01-15 00:00:00")),
    ("d/M/yy", Seq("15/1/24"), Seq("2024-01-15 00:00:00")),
    ("d-M-yy", Seq("15-1-24"), Seq("2024-01-15 00:00:00")),
    ("d.M.yy", Seq("15.1.24"), Seq("2024-01-15 00:00:00")),
    ("M/d/yy", Seq("1/15/24"), Seq("2024-01-15 00:00:00")),
    ("M-d-yy", Seq("1-15-24"), Seq("2024-01-15 00:00:00")),
    // yy-first only wins when the leading field cannot be a day (>31)
    ("yy/M/d", Seq("99/1/15"), Seq("2099-01-15 00:00:00")),
    ("yy-M-d", Seq("99-1-15"), Seq("2099-01-15 00:00:00")),
    ("yy.M.d", Seq("99.1.15"), Seq("2099-01-15 00:00:00")),
    ("d MMM yyyy", Seq("15 Jan 2024", "3rd Aug, 2021"),
      Seq("2024-01-15 00:00:00", "2021-08-03 00:00:00")),
    ("d MMMM yyyy", Seq("15 January 2024"), Seq("2024-01-15 00:00:00")),
    ("d-MMM-yyyy", Seq("15-Jan-2024", "15-aug-2020"),
      Seq("2024-01-15 00:00:00", "2020-08-15 00:00:00")),
    ("MMM d yyyy", Seq("Jan 15, 2024", "AUG 3 2021"),
      Seq("2024-01-15 00:00:00", "2021-08-03 00:00:00")),
    ("MMMM d yyyy", Seq("January 15, 2024"), Seq("2024-01-15 00:00:00")),
    ("MMM-d-yyyy", Seq("Jan-15-2024", "AUG-3-2021"),
      Seq("2024-01-15 00:00:00", "2021-08-03 00:00:00")),
    ("d-MMM-yy", Seq("15-Jan-24"), Seq("2024-01-15 00:00:00")),
    ("MMM yyyy", Seq("Jan 2024"), Seq("2024-01-01 00:00:00")),
    ("MMMM yyyy", Seq("January 2024"), Seq("2024-01-01 00:00:00")),
    ("H:mm:ss", Seq("9:45:07"), Seq("1970-01-01 09:45:07")),
    ("H:mm", Seq("9:45"), Seq("1970-01-01 09:45:00")),
    ("h:mm:ss a", Seq("9:45:07 PM"), Seq("1970-01-01 21:45:07")),
    ("h:mm a", Seq("9:45 pm"), Seq("1970-01-01 21:45:00")),
    ("h a", Seq("9 PM"), Seq("1970-01-01 21:00:00")),
    ("epoch_seconds", Seq("1705312345"), Seq("2024-01-15 09:52:25")),
    ("epoch_millis", Seq("1705312345678"), Seq("2024-01-15 09:52:25")),
    ("epoch_micros", Seq("1705312345678901"), Seq("2024-01-15 09:52:25")),
    ("rfc1123_datetime", Seq("Mon, 15 Jan 2024 09:45:07", "TUE, 3 AUG 2021 23:59:59"),
      Seq("2024-01-15 09:45:07", "2021-08-03 23:59:59")),
    ("d MMM yyyy HH:mm:ss", Seq("15 Jan 2024 09:45:07"), Seq("2024-01-15 09:45:07")),
    ("d MMM yyyy HH:mm", Seq("15 jan 2024 09:45"), Seq("2024-01-15 09:45:00")),
    // day-name prefixes, English + Malay (ref A group); Isnin/Jumaat/Ahad
    // never match the English-only RFC-1123 entry, so they land here
    ("dayname_datetime", Seq("Isnin, 15 Jan 2024 09:45:07"), Seq("2024-01-15 09:45:07")),
    ("dayname_date_abbrev", Seq("Jumaat 15 Jan 2024"), Seq("2024-01-15 00:00:00")),
    ("dayname_date_full", Seq("Ahad, 3 Ogos 2021"), Seq("2021-08-03 00:00:00")),
    // day ranges resolve to the range start (ref d_range)
    ("day_range_month", Seq("14-15 Aug 2023", "1 - 2 Jan 2024"),
      Seq("2023-08-14 00:00:00", "2024-01-01 00:00:00")),
    // timezone abbreviations parse as the naive wall-clock (ref Z group,
    // default tz="Local")
    ("tz_abbrev_iso", Seq("2024-01-15 09:45:07 UTC", "2024-01-15 09:45:07 sgt"),
      Seq("2024-01-15 09:45:07", "2024-01-15 09:45:07")),
    ("tz_abbrev_dmy", Seq("15/1/2024 09:45:07 PST"), Seq("2024-01-15 09:45:07")),
    // military / noon-midnight times (ref p/p2 groups)
    ("military_hrs", Seq("1430 HRS", "0905HRS"),
      Seq("1970-01-01 14:30:00", "1970-01-01 09:05:00")),
    ("noon_midnight", Seq("12 NOON", "12 midnight"),
      Seq("1970-01-01 12:00:00", "1970-01-01 00:00:00")),
    // bare year → Jan 1 (the reference's YR contract)
    ("yyyy", Seq("1970", "2024"), Seq("1970-01-01 00:00:00", "2024-01-01 00:00:00")))

  test("reference productivity.csv golden parity: YR detects as a year and casts to Jan-1 dates") {
    // the reference's own fixture + expected values
    // (test_ts_auto_detection.py:38-60: YR int column → date, first
    // row 1970-01-01)
    val fixture = "/root/reference/examples/data/time_series_data/csv/productivity.csv"
    assume(new java.io.File(fixture).exists())
    val df = spark.read.option("header", "true").option("inferSchema", "true")
      .csv(fixture)
    val det = AutoDetect.detectTimestampColumns(df, Seq("YR"))
    assert(det.head.format.contains("yyyy"), s"YR detection: ${det.head}")
    val cast = AutoDetect.tsPreprocess(df, det)
    assert(cast.schema("YR").dataType.typeName == "timestamp")
    val first = cast.orderBy("YR").select(date_format(col("YR"), "yyyy-MM-dd"))
      .head().getString(0)
    assert(first == "1970-01-01")
    // ts_processed_feats parity (test_ts_analyzer.py:49-59): component
    // extraction of the first cast row matches the reference's asserts
    import graft.functions.DatetimeOps.timeUnitExtract
    val comps = cast.orderBy("YR").select(
      Seq("hour", "minute", "second", "dayofmonth", "weekofyear",
        "dayofyear", "month", "year", "quarter")
        .map(u => timeUnitExtract(col("YR"), u).as(u)): _*).head()
    assert(comps.toSeq == Seq(0, 0, 0, 1, 1, 1, 1, 1970, 1), s"$comps")
    // ts_eligiblity_check parity (test_ts_analyzer.py:88-102): 48
    // states × 17 yearly dates, span 5844 days, gap stats 365.25 /
    // 0.2 / 0.447
    val elig = graft.functions.DatetimeOps.tsEligibility(cast, "STATE", "YR").head()
    assert(elig.getAs[Long]("count_unique_dates") == 17L)
    assert(elig.getAs[String]("min_date") == "1970-01-01")
    assert(elig.getAs[String]("max_date") == "1986-01-01")
    assert(elig.getAs[Long]("date_diff") == 5844L)
    assert(elig.getAs[Double]("gap_mean") == 365.25)
    assert(elig.getAs[Double]("gap_variance") == 0.2)
    assert(elig.getAs[Double]("gap_stdev") == 0.447)
    assert(elig.getAs[Long]("id_date_pair_min") == 17L &&
      elig.getAs[Long]("id_date_pair_max") == 17L)
    assert(elig.getAs[Long]("date_id_pair_min") == 48L &&
      elig.getAs[Long]("date_id_pair_max") == 48L)
    // ts_viz_data parity (test_ts_analyzer.py:104-141): daily grouping
    // of HWY over the cast YR — 17 rows, first date's min ≈ 1827.14
    val viz = cast.groupBy(col("YR"))
      .agg(min(col("HWY")).as("min"))
      .orderBy("YR").collect()
    assert(viz.length == 17)
    assert(math.abs(viz.head.getAs[Double]("min") - 1827.14) < 0.01, s"${viz.head}")
  }

  // Malay month spellings (the reference's table is Malay-bilingual,
  // ts_auto_detection.py:100-113) — share formats with the English
  // vectors, so asserted separately on cast results
  private val malayVectors: Seq[(String, String, String)] = Seq(
    ("15 Mac 2024", "d MMM yyyy", "2024-03-15"),
    ("15 Mei 2024", "d MMM yyyy", "2024-05-15"),
    ("3 Ogos 2021", "d MMMM yyyy", "2021-08-03"),
    ("31 Disember 2023", "d MMMM yyyy", "2023-12-31"),
    ("1 Julai 2022", "d MMMM yyyy", "2022-07-01"),
    ("12 Oktober 2020", "d MMMM yyyy", "2020-10-12"),
    ("7 Januari 2024", "d MMMM yyyy", "2024-01-07"))

  test("Malay month spellings detect and cast like the reference's table") {
    val failures = malayVectors.flatMap { case (raw, fmt, expected) =>
      val df = Seq(raw).toDF("v")
      val det = AutoDetect.detectTimestampColumns(df, Seq("v"), minMatchRate = 1.0)
      if (!det.head.format.contains(fmt)) Seq(s"$raw: detected ${det.head.format}")
      else {
        val got = df.select(date_format(AutoDetect.castColumn(col("v"), fmt), "yyyy-MM-dd"))
          .head().getString(0)
        if (got == expected) Nil else Seq(s"$raw -> $got, wanted $expected")
      }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("every format in the table detects and casts its vectors") {
    val failures = vectors.flatMap { case (fmt, raws, expected) =>
      val df = raws.toDF("v")
      val det = AutoDetect.detectTimestampColumns(df, Seq("v"), minMatchRate = 1.0)
      val detected = det.head.format
      if (!detected.contains(fmt)) {
        Seq(s"$fmt: detected $detected for $raws")
      } else {
        val got = df
          .select(date_format(AutoDetect.castColumn(col("v"), fmt), "yyyy-MM-dd HH:mm:ss").as("r"))
          .collect().map(_.getString(0)).toSeq
        if (got == expected) Nil else Seq(s"$fmt: cast $raws -> $got, wanted $expected")
      }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("detection over many columns runs as one sampling job") {
    val df = Seq(
      ("2024-01-15", "15/01/2024", "1705312345", "Jan 15, 2024", "junk"),
      ("2023-12-31", "31/12/2023", "1703980800", "Dec 31, 2023", "more"))
      .toDF("iso", "euro", "epoch", "mname", "noise")
    val det = AutoDetect
      .detectTimestampColumns(df, Seq("iso", "euro", "epoch", "mname", "noise"))
      .map(x => x.attribute -> x.format).toMap
    assert(det("iso").contains("yyyy-MM-dd"))
    assert(det("euro").contains("d/M/yyyy"))
    assert(det("epoch").contains("epoch_seconds"))
    assert(det("mname").contains("MMM d yyyy"))
    assert(det("noise").isEmpty)
  }

  test("mixed-garbage column stays undetected below the match threshold") {
    val df = (Seq.fill(6)("not a date") ++ Seq("2024-01-15")).toDF("v")
    val det = AutoDetect.detectTimestampColumns(df, Seq("v"))
    assert(det.head.format.isEmpty && det.head.matchRate < 0.8)
  }

  test("spaced am/pm markers detected AND cast (detector/normalizer parity)") {
    // every form the detector regex accepts must survive the cast —
    // "9:45 a. m." used to count toward detection then null out
    val forms = Seq("9:45 a. m." -> "09:45:00", "9:45 A. M." -> "09:45:00",
      "9:45 p.m." -> "21:45:00", "9:45PM" -> "21:45:00", "9:45 am" -> "09:45:00")
    val failures = forms.flatMap { case (raw, hhmmss) =>
      val df = Seq(raw).toDF("v")
      val det = AutoDetect.detectTimestampColumns(df, Seq("v"), minMatchRate = 1.0)
      det.head.format match {
        case Some(fmt) =>
          val got = df.select(date_format(AutoDetect.castColumn(col("v"), fmt), "HH:mm:ss"))
            .head().getString(0)
          if (got == hhmmss) Nil else Seq(s"$raw ($fmt) -> $got, wanted $hhmmss")
        case None => Seq(s"$raw: not detected")
      }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("epoch guard keeps auto mode off id/phone-named columns") {
    val dets = Seq(
      AutoDetect.TsDetection("user_id", Some("epoch_seconds"), 1.0),
      AutoDetect.TsDetection("phone", Some("epoch_seconds"), 1.0),
      AutoDetect.TsDetection("event_epoch", Some("epoch_seconds"), 1.0),
      AutoDetect.TsDetection("order_key", Some("epoch_millis"), 0.9),
      AutoDetect.TsDetection("created_id", Some("yyyy-MM-dd"), 1.0)) // non-epoch: kept
    val g = AutoDetect.epochIdGuard(dets).map(d => d.attribute -> d.format).toMap
    assert(g("user_id").isEmpty && g("phone").isEmpty && g("order_key").isEmpty)
    assert(g("event_epoch").contains("epoch_seconds"))
    assert(g("created_id").contains("yyyy-MM-dd"))
  }

  test("sampling is partition-layout invariant, including the hash-filter path") {
    val vals = (1 to 3000).map(i => f"2024-${i % 12 + 1}%02d-${i % 28 + 1}%02d #$i")
      .map(_.split(" ")(0)) // distinct-ish date strings
    // small input: whole-table branch — trivially layout-invariant
    val a = AutoDetect.detectTimestampColumns(
      vals.toDF("v").repartition(3), Seq("v"), sampleCap = 50)
    val b = AutoDetect.detectTimestampColumns(
      vals.toDF("v").repartition(17), Seq("v"), sampleCap = 50)
    assert(a == b && a.head.format.contains("yyyy-MM-dd"))
    // rows above 2×rowCap: the md5-threshold filter branch must select
    // the SAME sample on any partition layout (limit() did not)
    val s1 = AutoDetect.sampleDistincts(
      vals.toDF("v").repartition(3), Seq("v"), sampleCap = 40, rowCap = 500)
    val s2 = AutoDetect.sampleDistincts(
      vals.toDF("v").repartition(23), Seq("v"), sampleCap = 40, rowCap = 500)
    assert(s1("v").nonEmpty && s1 == s2)
  }
}
