package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.collection.immutable.ListMap

/** BaselineRefresh's rules as a pure function of the two ledgers. */
class BaselineRefreshSpec extends AnyFunSuite {
  import BaselineRefresh.{entries, refresh}

  private def bench(qs: (String, Double)*): String =
    Json.write(ListMap("metric" -> "total", "queries" -> ListMap(qs: _*),
      "calib" -> 0.5, "calib_io" -> 0.9, "calib_io_scan" -> 1))

  private def base(qs: (String, Double)*): String =
    Json.pretty(ListMap("_comment" -> "c", "sf" -> "sf0.1",
      "queries" -> ListMap(qs: _*)))

  private val legs = Seq("__calib" -> 0.48, "__calib_io" -> 0.86,
    "__calib_io_scan" -> 1.0)

  test("-new only inserts entries") {
    val b = base(Seq("q_a" -> 1.0) ++ legs: _*)
    val out = refresh(bench("q_a" -> 5.0, "q_b" -> 2.0), b, Seq("-new"))
    assert(entries(out.get) == entries(b) + ("q_b" -> 2.0))
    assert(refresh(bench("q_a" -> 5.0), b, Seq("-new")).isEmpty)
  }

  test("named updates touch only the named entries") {
    val b = base(Seq("q_a" -> 1.0, "q_b" -> 1.0, "q_c" -> 1.0) ++ legs: _*)
    val out = refresh(bench("q_a" -> 3.0, "q_b" -> 4.0, "q_c" -> 5.0, "q_d" -> 6.0),
      b, Seq("q_b"))
    assert(entries(out.get) == entries(b) + ("q_b" -> 4.0))
  }

  test("an unknown name, or no argument at all, is refused") {
    val b = base(Seq("q_a" -> 1.0) ++ legs: _*)
    intercept[IllegalArgumentException](refresh(bench("q_a" -> 2.0), b, Seq("q_zz")))
    intercept[IllegalArgumentException](refresh(bench("q_a" -> 2.0), b, Nil))
  }

  test("calibration legs are seeded when absent, kept when present, and " +
      "overwritten only under -calib") {
    val seeded = refresh(bench("q_a" -> 2.0), base("q_a" -> 1.0), Seq("-new"))
    assert(entries(seeded.get) == Map("q_a" -> 1.0, "__calib" -> 0.5,
      "__calib_io" -> 0.9, "__calib_io_scan" -> 1.0))
    val b = base(Seq("q_a" -> 1.0) ++ legs: _*)
    val kept = refresh(bench("q_a" -> 2.0, "q_b" -> 3.0), b, Seq("-new"))
    assert(entries(kept.get) -- Seq("q_b") == entries(b))
    val recal = refresh(bench("q_a" -> 2.0), b, Seq("-calib"))
    assert(entries(recal.get) == Map("q_a" -> 1.0, "__calib" -> 0.5,
      "__calib_io" -> 0.9, "__calib_io_scan" -> 1.0))
  }

  test("the committed baseline holds 222 queries and 3 calibration legs; " +
      "a named update rewrites one line of it") {
    val text = java.nio.file.Files.readString(
      java.nio.file.Paths.get("BASELINE_QUERIES.json"))
    val e = entries(text)
    assert(e.size == 225 && e.keys.count(_.startsWith("q_")) == 222)
    assert(e.keySet.filterNot(_.startsWith("q_")) ==
      Set("__calib", "__calib_io", "__calib_io_scan"))
    val out = refresh(bench("q_zorder_box" -> 9.5), text, Seq("q_zorder_box")).get
    val changed = text.linesIterator.toSeq.zipAll(out.linesIterator.toSeq, "", "")
      .filter { case (a, b) => a != b }
    assert(changed == Seq(("  \"q_zorder_box\": 0.1274,", "  \"q_zorder_box\": 9.5000,")))
  }
}
