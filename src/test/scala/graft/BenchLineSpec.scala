package graft

import org.scalatest.funsuite.AnyFunSuite
import com.fasterxml.jackson.databind.ObjectMapper

/** The compact bench line must fit the harness's ~2000-char stdout tail
  * WHOLE — a cut line loses the total and the expensive queries. These
  * pin the budget policy in [[Bench.compactLine]] as the query count
  * grows past what 2-dp entries can fit.
  */
class BenchLineSpec extends AnyFunSuite {

  private val mapper = new ObjectMapper()
  private def parse(line: String) = mapper.readTree(line)

  private def synth(n: Int): Seq[(String, Double)] =
    (0 until n).map(i => f"q$i%03d_synthetic_operator_name" -> 20.0 / (i + 1))
      .sortBy(-_._2)

  test("130 queries fit the budget with full 2-dp precision, errors kept") {
    val line = Bench.compactLine(synth(130), Nil, 123.456, "/x/sf0.1")
    assert(line.length <= 1900)
    val j = parse(line)
    assert(j.get("queries").size() === 130)
    assert(j.has("errors") && !j.has("dropped"))
  }

  test("200 queries stay under the budget and remain valid JSON") {
    val line = Bench.compactLine(synth(200), Nil, 321.0, "/x/sf0.1")
    assert(line.length <= 1900)
    val j = parse(line)
    // budget sacrifices come from the CHEAP tail only: whatever was kept
    // must be the most expensive prefix, with any remainder counted
    val kept = j.get("queries").size()
    val dropped = if (j.has("dropped")) j.get("dropped").asInt() else 0
    assert(kept + dropped === 200)
    assert(kept >= 100, s"kept only $kept of 200 — policy too aggressive")
    val names = j.get("queries").fieldNames()
    assert(names.next() === "q000", "most-expensive entry must survive")
    assert(j.get("metric").asText() === "total")
  }

  test("failures survive the budget squeeze") {
    val fails = Seq("q007_synthetic_operator_name" -> "SparkException: boom")
    val line = Bench.compactLine(synth(200), fails, 321.0, "/x/sf0.1")
    assert(line.length <= 1900)
    val j = parse(line)
    assert(j.get("errors").size() === 1)
  }

  test("cal/load calibration fields render and survive the budget squeeze") {
    val line = Bench.compactLine(synth(200), Nil, 321.0, "/x/sf0.1",
      cal = Seq(0.123, 0.456), load = Seq(1.5, 4.25))
    assert(line.length <= 1900)
    val j = parse(line)
    assert(j.get("cal").size() === 2)
    assert(j.get("cal").get(0).asDouble() === 0.123)
    assert(j.get("load").get(1).asDouble() === 4.25)
    // absent when not supplied (old-line compatibility)
    val bare = parse(Bench.compactLine(synth(5), Nil, 1.0, "/x/sf0.1"))
    assert(!bare.has("cal") && !bare.has("load"))
  }

  test("caln multiplier + normalized total render and survive the squeeze") {
    val line = Bench.compactLine(synth(200), Nil, 321.0, "/x/sf0.1",
      cal = Seq(0.35, 0.4), load = Seq(1.0, 1.0), caln = 0.5)
    assert(line.length <= 1900)
    val j = parse(line)
    assert(j.get("caln").asDouble() === 0.5)
    assert(j.get("norm_total").asDouble() === 160.5)
    // absent when not supplied (old-line compatibility)
    val bare = parse(Bench.compactLine(synth(5), Nil, 1.0, "/x/sf0.1"))
    assert(!bare.has("caln") && !bare.has("norm_total"))
  }

  test("artifact entries keep distinct full names in short-key mode") {
    val entries = (synth(10) ++ Seq("artifact_pairs" -> 9.0,
      "artifact_labels" -> 3.0, "artifact_epairs" -> 2.0,
      "artifact_edges" -> 1.5)).sortBy(-_._2)
    val j = parse(Bench.compactLine(entries, Nil, 40.0, "/x/sf0.1"))
    import scala.jdk.CollectionConverters._
    val names = j.get("queries").fieldNames().asScala.toSeq
    assert(names.count(_.startsWith("artifact_")) === 4)
    assert(names.toSet.size === names.size)
  }

  test("entry names: known queries and artifacts pass, an unknown one throws naming it") {
    assert(Bench.entryNames("q01_scan_agg,artifact_pairs,q01_scan_agg") ===
      Seq("q01_scan_agg", "artifact_pairs", "q01_scan_agg"))
    val e = intercept[IllegalArgumentException](
      Bench.entryNames("q01_scan_agg,nope"))
    assert(e.getMessage.contains("nope"))
    assert(!e.getMessage.contains("q01_scan_agg"))
  }
}
