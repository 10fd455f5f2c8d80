package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench protocol's pure parts: the pass merge, `floor_ratio` and the
  * graded stdout line. No SparkSession.
  */
class BenchProtocolSpec extends AnyFunSuite {
  private def run(sec: Double, shuffle: Long = 0L, spill: Long = 0L, cpu: Long = 0L) =
    BenchRun(sec, shuffle, spill, cpu)

  test("the faster pass wins, together with its own snapshot") {
    val p1 = Map("q_a" -> run(2.0, 10L, 1L, 100L), "q_b" -> run(0.5, 20L, 2L, 200L))
    val p2 = Map("q_a" -> run(1.5, 11L, 3L, 110L), "q_b" -> run(0.7, 21L, 4L, 210L))
    val (rows, failed) = Bench.mergePasses(Seq("q_a", "q_b"), Seq(p1, p2))
    assert(failed.isEmpty)
    assert(rows == Seq(
      BenchRow("q_a", run(1.5, 11L, 3L, 110L), Seq(2.0, 1.5)),
      BenchRow("q_b", run(0.5, 20L, 2L, 200L), Seq(0.5, 0.7))))
  }

  test("a failure in either pass lands in failed with no timing") {
    val p1 = Map("q_ok" -> run(1.0), "q_late" -> run(1.0))
    val p2 = Map("q_ok" -> run(0.9), "q_early" -> run(0.1))
    val order = Seq("q_early", "q_ok", "q_late", "q_never")
    val (rows, failed) = Bench.mergePasses(order, Seq(p1, p2))
    assert(rows.map(_.name) == Seq("q_ok"))
    assert(failed == Seq("q_early", "q_late", "q_never"))
    val line = Bench.stdoutLine(rows, failed, "sf")
    assert(line.contains(""""failed":["q_early","q_late","q_never"]"""))
    assert(!line.contains(""""q_early":"""))
    val detail = Bench.detailJson(rows, failed, Map.empty, "sf")
    assert(!detail.contains(""""q_late":{"""))
  }

  test("floor_ratio counts only rows that have a floor") {
    val rows = Seq(
      BenchRow("q_a", run(3.0), Seq(3.0, 3.0)),
      BenchRow("q_b", run(1.0), Seq(1.0, 1.0)),
      BenchRow("q_new", run(50.0), Seq(50.0, 60.0)))
    val floors = Map("q_a" -> 2.0, "q_b" -> 2.0, "q_gone" -> 9.0)
    assert(Bench.floorRatio(rows, floors) == 1.0)
    assert(Bench.floorRatio(rows, Map.empty) == 1.0)
    assert(Bench.detailJson(rows, Nil, floors, "sf").contains(""""floor_ratio":1.000"""))
  }

  test("the stdout line keeps its field names and fits 1800 chars with 256 rows") {
    val rows = (0 until 256).map { i =>
      BenchRow(f"q_query_number_$i%03d", run(0.1 + i * 0.01, shuffle = 1048576L * i), Seq(1.0, 1.0))
    }
    val line = Bench.stdoutLine(rows, Seq("q_broken"), "/data/sf0.1")
    assert(line.length <= 1800)
    assert(line.startsWith("""{"metric":"total","value":"""))
    for (field <- Seq(""""unit":"sec"""", """"shuffle_total_mib":""", """"queries":{""",
        """"queries_omitted":""", """"failed":["q_broken"]""", """"shuffle_mib":{""",
        """"sf":"/data/sf0.1"}"""))
      assert(line.contains(field), field)
    // the slowest row is kept first; the total covers every row, kept or not
    assert(line.contains(""""queries":{"q_query_number_255":2.650,"""))
    assert(line.contains(f""""value":${rows.map(_.kept.sec).sum}%.3f,"""))
    val shown = """"q_query_number_\d+":\d""".r.findAllIn(line).length
    val omitted = """"queries_omitted":(\d+)""".r.findFirstMatchIn(line).get.group(1).toInt
    assert(shown - 15 + omitted == 256) // 15 names repeat in shuffle_mib
  }
}
