package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the driver contract for Bench's ONE stdout JSON line: the
  * driver keeps only the last ~2000 chars of stdout and parses the
  * line out of that tail, so the line must fit ~1915 chars at any
  * suite size — including the 225-query size the suite is growing
  * toward (r17 verdict task 7). No SparkSession needed: the line
  * renderer is pure. */
class BenchSpec extends AnyFunSuite {

  /** Real suite names plus realistic synthetic growth up to `n`. */
  private def syntheticResults(n: Int): Seq[(String, Double)] = {
    val real = SparkEntry.queries.keys.toSeq.sorted
    val extra = (real.size until n).map(i =>
      f"q_tpcds_future_shape_${i}%03d")
    (real ++ extra).zipWithIndex.map { case (name, i) =>
      // realistic spread: most sub-second, a slow tail up to ~9s
      name -> (0.11 + (i % 7) * 0.37 + (if (i % 23 == 0) 6.3 else 0.0))
    }
  }

  test("stdout line fits the driver tail at the CURRENT suite size") {
    val line = Bench.stdoutLine(syntheticResults(
      SparkEntry.queries.size), Seq.empty, "", "/root/testdata/sf0.1")
    assert(line.length <= 1915, s"line is ${line.length} chars")
    assert(line.startsWith("""{"metric":"total","value":"""))
  }

  test("stdout line fits at 225 queries, gate bits and total survive") {
    val results = syntheticResults(225)
    val gate = ""","rechecked":3,"regr":1,"drift":2"""
    val line = Bench.stdoutLine(results, Seq("q_failed_one"), gate,
      "/root/testdata/sf0.1")
    assert(line.length <= 1915, s"line is ${line.length} chars")
    assert(line.contains("\"metric\":\"total\""))
    // the gate verdicts must survive whatever degradation was applied
    assert(line.contains("\"regr\":1"), line.take(200))
    assert(line.contains("\"drift\":2"), line.take(200))
    // valid JSON object shape: balanced braces (regex-free driver
    // parses the {...} span)
    assert(line.count(_ == '{') == line.count(_ == '}'))
  }

  test("stdout line survives pathological 400-query growth by packing " +
      "the slowest queries") {
    val results = syntheticResults(400)
    val line = Bench.stdoutLine(results, Seq.empty, ""","regr":1""",
      "/root/testdata/sf0.1")
    assert(line.length <= 1915, s"line is ${line.length} chars")
    // degraded format still carries the suite-wide accounting
    assert(line.contains("\"n_queries\":400"))
    assert(line.contains("\"regr\":1"))
    // the slowest entries (the 6.x-second tail) must be present
    assert(line.contains("\"slowest\":{"))
    assert("""[0-9]\":6\.""".r.findFirstIn(line).isDefined ||
      line.contains(":6."), "slow tail missing from packed map")
  }

  // ---- gate rules (BenchGate): pure functions of plain values

  import BenchGate._

  test("gate floor is tiered: +0.3s under a 0.3s baseline, else +1s") {
    assert(floor(0.29) == 0.3 && floor(0.3) == 1.0 && floor(5.0) == 1.0)
    val base = Map("q_small" -> 0.2, "q_big" -> 0.5)
    // q_small: 2x is 0.4, the floor 0.5; q_big: 2x is 1.0, the floor 1.5
    val over = Seq("q_small" -> 0.55, "q_big" -> 1.6)
    assert(rawRegressions(over, base, 1.0) ==
      Seq(("q_small", 0.55, 0.2), ("q_big", 1.6, 0.5)))
    assert(floorExempted(over, base, 1.0).isEmpty)
    val under = Seq("q_small" -> 0.45, "q_big" -> 1.4)
    assert(rawRegressions(under, base, 1.0).isEmpty)
    assert(floorExempted(under, base, 1.0) ==
      Seq(("q_small", 0.45, 0.2), ("q_big", 1.4, 0.5)))
    // a failed run (-1) and a query absent from the baseline never flag
    assert(rawRegressions(Seq("q_small" -> -1.0, "q_new" -> 99.0), base,
      1.0).isEmpty)
  }

  test("calibration adj is now/baseline clamped to [1, 3], the wider leg " +
      "winning") {
    val base = Map("__calib" -> 1.0, "__calib_io" -> 2.0,
      "__calib_io_scan" -> 1.0)
    assert(calibAdj(base, 0.5, 1.0, calibIoScan = true) == 1.0)
    assert(calibAdj(base, 2.0, 1.0, calibIoScan = true) == 2.0)
    assert(calibAdj(base, 5.0, 1.0, calibIoScan = true) == 3.0)
    assert(calibAdj(base, 1.2, 5.0, calibIoScan = true) == 2.5)
    assert(calibAdj(base, 1.2, 100.0, calibIoScan = true) == 3.0)
    // a baseline without legs never relaxes
    assert(calibAdj(Map.empty, 5.0, 5.0, calibIoScan = true) == 1.0)
    // adj relaxes both the ratio and the floor
    val b = Map("q_x" -> 1.0)
    assert(rawRegressions(Seq("q_x" -> 3.5), b, 1.0).nonEmpty)
    assert(rawRegressions(Seq("q_x" -> 3.5), b, 2.0).isEmpty)
  }

  test("an IO leg whose scan shape differs from the baseline's gives " +
      "ioAdj 1") {
    val base = Map("__calib" -> 1.0, "__calib_io" -> 1.0,
      "__calib_io_scan" -> 1.0)
    assert(calibAdj(base, 1.0, 2.5, calibIoScan = true) == 2.5)
    assert(calibAdj(base, 1.0, 2.5, calibIoScan = false) == 1.0)
    // the CPU leg still relaxes on a shape mismatch
    assert(calibAdj(base, 1.5, 2.5, calibIoScan = false) == 1.5)
    // a baseline predating the shape flag is taken as scan+write
    val old = base - "__calib_io_scan"
    assert(calibAdj(old, 1.0, 2.5, calibIoScan = true) == 2.5)
    assert(calibAdj(old, 1.0, 2.5, calibIoScan = false) == 2.5)
  }

  test("an isolated recheck that clears the gate is not a regression") {
    val raw = Seq(("q_noise", 5.0, 1.0), ("q_real", 5.0, 1.0),
      ("q_warn", 5.0, 1.0), ("q_unchecked", 5.0, 1.0))
    val iso = Map("q_noise" -> 1.1, "q_real" -> 4.0, "q_warn" -> 1.8)
    // q_unchecked's recheck did not run: it stays flagged
    assert(confirmed(raw, iso, 1.0).map(_._1) == Seq("q_real", "q_unchecked"))
    // cleared but still past 1.5x baseline: surfaced, not flagged
    assert(isolatedWarn(raw, iso, 1.0) == Seq(("q_warn", 1.8, 1.0)))
    // the recheck is judged under the same calibration relaxation
    assert(confirmed(raw, iso, 2.0).map(_._1) == Seq("q_unchecked"))
  }

  private val emptyDrift = Drift(Seq.empty, Seq.empty, Seq.empty)

  test("drift flags a >= 1.25x isolated rise, each run normalized by its " +
      "own adj") {
    val prior = Drift(Seq("q_w"), Seq.empty,
      Seq(DriftRecord("r1", 2.0, Map("q_w" -> 1.0), Map.empty)))
    // normalized prev: 1.0 / 2.0 = 0.5, so the tripwire sits at 0.625
    def flags(t: Double, adj: Double) =
      driftStep(prior, "r2", adj, Map("q_w" -> t), Seq.empty, Map.empty)._1
    assert(flags(0.63, 1.0) == Map("q_w" -> (1.0, 0.63)))
    assert(flags(0.62, 1.0).isEmpty)
    // a slow box (adj 2) reading 1.2 is 0.6 normalized: not a drift
    assert(flags(1.2, 2.0).isEmpty)
    assert(flags(1.26, 2.0) == Map("q_w" -> (1.0, 1.26)))
    // the comparison is against the MOST RECENT record holding the query
    val two = prior.copy(records = prior.records :+
      DriftRecord("r1b", 1.0, Map("q_w" -> 0.4, "q_other" -> 9.0), Map.empty))
    assert(driftStep(two, "r2", 1.0, Map("q_w" -> 0.55), Seq.empty,
      Map.empty)._1 == Map("q_w" -> (0.4, 0.55)))
    // the step records the raw isolated best with this run's adj
    val (_, next) = driftStep(prior, "r2", 2.0, Map("q_w" -> 1.2,
      "q_unwatched" -> 3.0), Seq.empty, Map.empty)
    assert(next.records.last == DriftRecord("r2", 2.0, Map("q_w" -> 1.2),
      Map.empty))
  }

  test("a query > 1.5x baseline in two consecutive shared runs joins the " +
      "watch") {
    val base = Map("q_a" -> 1.0, "q_b" -> 1.0)
    val prior = Drift(Seq.empty, Seq.empty,
      Seq(DriftRecord("r1", 1.0, Map.empty, Map("q_a" -> 1.6))))
    val results = Seq("q_a" -> 1.7, "q_b" -> 1.8)
    val (_, next) = driftStep(prior, "r2", 1.0, Map.empty, results, base)
    // q_b is over only this run: recorded, not added
    assert(next.watch == Seq("q_a"))
    assert(next.records.last.sharedOver == Map("q_a" -> 1.7, "q_b" -> 1.8))
    assert(next.log == Seq(WatchLog("r2", "add", "q_a",
      "shared > 1.5x baseline in two consecutive runs (now 1.70x)")))
    // the shared reading is weather-normalized: 1.7 on an adj-1.2 box
    // is 1.42x, under the 1.5x mark
    val (_, slow) = driftStep(prior, "r2", 1.2, Map.empty, results, base)
    assert(slow.watch.isEmpty && slow.log.isEmpty)
    assert(slow.records.last.sharedOver.keySet == Set("q_b"))
  }

  test("a watched query retires after 3 isolated records <= 1.25x " +
      "baseline") {
    val base = Map("q_w" -> 1.0)
    def rec(l: String, adj: Double, t: Double) =
      DriftRecord(l, adj, Map("q_w" -> t), Map.empty)
    val prior = Drift(Seq("q_w"), Seq.empty,
      Seq(rec("r1", 1.0, 1.2), rec("r2", 2.0, 2.4)))
    // 2.4 on an adj-2 box is 1.2 normalized: clean
    val (_, next) = driftStep(prior, "r3", 1.0, Map("q_w" -> 1.25),
      Seq.empty, base)
    assert(next.watch.isEmpty)
    assert(next.log == Seq(WatchLog("r3", "retire", "q_w",
      "last 3 isolated records <= 1.25x baseline, adj-normalized " +
        "(1.20,1.20,1.25 vs 1.00)")))
    // one reading past 1.25x keeps it watched
    assert(driftStep(prior, "r3", 1.0, Map("q_w" -> 1.3), Seq.empty,
      base)._2.watch == Seq("q_w"))
    // two clean records are not enough
    assert(driftStep(prior.copy(records = prior.records.tail), "r3", 1.0,
      Map("q_w" -> 1.0), Seq.empty, base)._2.watch == Seq("q_w"))
  }

  test("the ledger keeps the last 60 records and 40 log entries; prior " +
      "entries survive") {
    val records = (1 to 60).map(i =>
      DriftRecord(s"r$i", 1.0, Map.empty, Map.empty))
    val log = (1 to 40).map(i => WatchLog(s"r$i", "adjust", "q_w", s"n$i"))
    val prior = Drift(Seq("q_w"), log, records)
    // q_w has no baseline, so it cannot retire; q_a is added
    val (_, next) = driftStep(
      prior.copy(records = records.init :+ records.last.copy(
        sharedOver = Map("q_a" -> 2.0))),
      "r61", 1.0, Map.empty, Seq("q_a" -> 2.0), Map("q_a" -> 1.0))
    assert(next.records.size == MaxRecords && MaxRecords == 60)
    assert(next.records.head.label == "r2" && next.records.last.label == "r61")
    assert(next.log.size == MaxLogEntries && MaxLogEntries == 40)
    assert(next.log.init == log.tail)
    assert(next.log.last.op == "add" && next.log.last.q == "q_a")
    assert(next.watch == Seq("q_w", "q_a"))
    assert(driftStep(emptyDrift, "r1", 1.0, Map.empty, Seq.empty,
      Map.empty)._2 == Drift(Seq.empty, Seq.empty,
        Seq(DriftRecord("r1", 1.0, Map.empty, Map.empty))))
  }

  // ---- ledger codec (Bench.readDrift / renderDrift)

  /** A strict reader: rejects trailing content after the JSON value. */
  private def strictJson(text: String) =
    new com.fasterxml.jackson.databind.ObjectMapper()
      .enable(com.fasterxml.jackson.databind.DeserializationFeature
        .FAIL_ON_TRAILING_TOKENS)
      .readTree(text)

  test("a watch_log reason with ], } or \" survives a DRIFT.json round " +
      "trip, with every later entry") {
    val text = """{"watch": ["q_a"],
 "watch_log": [
  {"label":"r1","op":"adjust","q":"q_a","reason":"odd ] bracket"},
  {"label":"r2","op":"adjust","q":"q_a","reason":"odd } brace, \"quoted\""},
  {"label":"r3","op":"add","q":"q_a","reason":"plain"}
 ],
 "records": [
  {"label":"r1","adj":1.00,"isolated":{"q_a":1.00}},
  {"label":"r2","adj":1.21,"isolated":{"q_a":0.82},"shared_over":{"q_b":1.61}}
 ]}
"""
    val d = Bench.readDrift(text)
    assert(d.log.map(_.reason) ==
      Seq("odd ] bracket", "odd } brace, \"quoted\"", "plain"))
    assert(d.records == Seq(
      DriftRecord("r1", 1.0, Map("q_a" -> 1.0), Map.empty),
      DriftRecord("r2", 1.21, Map("q_a" -> 0.82), Map("q_b" -> 1.61))))
    val out = Bench.renderDrift(d)
    strictJson(out)
    assert(Bench.readDrift(out) == d)
  }

  test("the committed DRIFT.json reads as 4 watched queries, 15 log " +
      "entries and 23 records, and reads back the same after a write") {
    // a contract-scale Bench run rewrites the ledger: these counts
    // move with it
    val d = Bench.readDrift(java.nio.file.Files.readString(
      java.nio.file.Paths.get("DRIFT.json")))
    assert(d.watch.size == 4 && d.log.size == 15 && d.records.size == 23)
    assert(d.log.count(_.op == "adjust") == 1)
    // stored numbers keep 2 decimals, so the tripwire reads the values
    // the regex-era ledger held
    assert(d.records.find(_.label == "r17x").get ==
      DriftRecord("r17x", 1.21, Map("q_periodic_snapshot" -> 0.69), Map.empty))
    val out = Bench.renderDrift(d)
    strictJson(out)
    assert(Bench.readDrift(out) == d)
  }

  test("the recheck fork's PROFILE lines parse back to isolated bests") {
    val out = Seq("[info] noise", Profile.line("q_a", Seq(1.234, 1.5), None),
      Profile.line("q_b", Nil, Some(new RuntimeException("boom \" ]"))),
      "PROFILE {\"q\":\"q_cut\",\"be").mkString("\n")
    assert(Bench.profileBests(out) == Map("q_a" -> 1.23))
    assert(Profile.line("q_a", Seq(1.234, 1.5), None) ==
      "PROFILE {\"q\":\"q_a\",\"best\":1.23,\"runs\":[1.23,1.50]}")
  }
}
