package graft

import org.scalatest.funsuite.AnyFunSuite

/** The round-16 crash-safe bench emit contract: the summary JSON must be
  * honest about whether the run finished. Round 15 lost its graded number
  * because the single end-of-run println never executed; the rescue emit
  * plus these fields make a killed run recognizable instead of either
  * absent or masquerading as clean.
  */
class BenchEmitSpec extends AnyFunSuite {

  private val results = Seq(
    ("q1_agg", 1.25, true),
    ("stream_parity", 6.5, true),
    ("broken_row", -1.0, false))

  test("renderFull carries complete/deadline_hit and parses as JSON") {
    val full = Bench.renderFull(results,
      calibSec = 0.30, calibEnd = -1.0, refCalib = 0.24,
      normFactor = 0.8, contended = "\"unknown\"", reran = 2,
      rerunFirstPass = Map("q1_agg" -> 3.0),
      overPin = Seq("stream_parity"), sfDir = "/tmp/sf",
      complete = false, deadlineHit = true)
    assert(full.contains("\"complete\":false"))
    assert(full.contains("\"deadline_hit\":true"))
    assert(full.contains("\"contended\":\"unknown\""))
    assert(full.contains("\"failed\":[\"broken_row\"]"))
    assert(full.contains("\"over_pin\":[\"stream_parity\"]"))
    // structural sanity without a JSON lib: balanced braces, one object
    assert(full.count(_ == '{') == full.count(_ == '}'))
    assert(full.startsWith("{") && full.endsWith("}"))
  }

  test("renderLine fits the driver tail window and names completeness") {
    val line = Bench.renderLine(results,
      calibSec = 0.30, calibEnd = 0.29, normFactor = 0.8,
      contended = "false", reran = 0, overPin = Nil,
      fullPath = "/root/repo/BENCH_FULL.json", sfDir = "/tmp/sf",
      complete = true, deadlineHit = false)
    assert(line.length <= 1700, s"stdout line too long: ${line.length}")
    assert(line.contains("\"complete\":true"))
    assert(line.contains("\"deadline_hit\":false"))
    assert(line.count(_ == '{') == line.count(_ == '}'))
  }

  test("renderLine: the over-pin names stay out of the line, and each " +
    "entry is one scalar of raw seconds") {
    val many = (1 to 290).map(i => (f"row_$i%03d_some_query", 0.5 + i / 1e3,
      true))
    def line(overPin: Seq[String]) = Bench.renderLine(many,
      calibSec = 0.30, calibEnd = 0.29, normFactor = 0.8,
      contended = "false", reran = 0, overPin = overPin,
      fullPath = "BENCH_FULL.json", sfDir = "/tmp/sf",
      complete = true, deadlineHit = false)
    val pinned = line(many.map(_._1))
    val clean = line(Nil)
    assert(pinned.length <= 1700, s"stdout line too long: ${pinned.length}")
    assert(pinned.contains("\"over_pin_n\":290"))
    def entries(l: String) =
      "\"row_\\d+_some_query\":\\d+\\.\\d+".r.findAllIn(l).size
    assert(entries(pinned) > 0)
    assert(entries(pinned) >= entries(clean))
    // raw seconds, not [raw,norm] pairs
    assert(!pinned.substring(pinned.indexOf("\"queries\":{")).contains("["))
    assert(pinned.contains("\"row_290_some_query\":0.790"))
  }

  test("renderLine packs the costliest rows first, whatever their names") {
    // many cheap TPC-H rows overflow the budget; one costly non-TPC-H row
    // must keep its place, and the cheapest rows are the ones left out
    val rows = (1 to 200).map(i => (f"q$i%03d_tpch_query", 0.1 + i / 1e4,
      true)) :+ (("stream_costly", 9.5, true))
    val line = Bench.renderLine(rows,
      calibSec = 0.30, calibEnd = 0.29, normFactor = 0.8,
      contended = "false", reran = 0, overPin = Nil,
      fullPath = "BENCH_FULL.json", sfDir = "/tmp/sf",
      complete = true, deadlineHit = false)
    assert(line.length <= 1700, s"stdout line too long: ${line.length}")
    assert(line.contains("\"stream_costly\":9.500"))
    val kept = "\"q(\\d+)_tpch_query\"".r.findAllMatchIn(line)
      .map(_.group(1).toInt).toSeq
    assert(kept.nonEmpty && kept.size < 200, s"${kept.size} TPC-H rows kept")
    assert(kept.min > 200 - kept.size, "a cheaper row beat a costlier one")
  }

  test("contendedVerdict: missing end calibration is never 'false'") {
    // cut-short run, plausible start calibration -> unknown, not false
    assert(Bench.contendedVerdict(0.30, -1.0) == "\"unknown\"")
    // cut-short run, loaded start calibration -> contended outright
    assert(Bench.contendedVerdict(0.60, -1.0) == "true")
    // complete idle run: both yardsticks in band
    assert(Bench.contendedVerdict(0.30, 0.15) == "false")
    // complete loaded run: best yardstick off the unloaded band
    assert(Bench.contendedVerdict(0.80, 0.60) == "true")
    // one yardstick off AND drifted apart: load changed mid-run
    assert(Bench.contendedVerdict(0.30, 0.50) == "true")
  }
}
