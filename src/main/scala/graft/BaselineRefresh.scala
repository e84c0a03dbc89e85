package graft

import java.nio.file.{Files, Paths}
import scala.collection.immutable.ListMap

/** Surgical baseline editor for BASELINE_QUERIES.json.
  *
  * Wholesale baseline refreshes ("copy bench_result.json over the
  * baseline") make drift invisible: a query that quietly doubled gets
  * its doubled time blessed as the new normal on the next refresh.
  * This tool is the ONLY supported way to touch the baseline:
  *
  *   runMain graft.BaselineRefresh q_a q_b ...   # update named queries
  *   runMain graft.BaselineRefresh -new          # add queries missing
  *                                               # from the baseline
  *
  * Named updates are for DELIBERATE perf changes — name the queries and
  * the change in the commit message. `-new` only inserts entries for
  * queries present in bench_result.json but absent from the baseline
  * (new operators); existing entries are never modified by it.
  * Times come from the committed bench_result.json (the last real
  * bench run), never hand-typed.
  */
object BaselineRefresh {
  private val benchPath = Paths.get("bench_result.json")
  private val basePath = Paths.get("BASELINE_QUERIES.json")

  /** bench_result.json's calibration fields -> their baseline keys
    * (`calib_io_scan` is the IO leg's shape: 1 scan+write, 0 write-only). */
  private val calibLegs = Seq("calib" -> "__calib",
    "calib_io" -> "__calib_io", "calib_io_scan" -> "__calib_io_scan")

  private val comment = "Per-query bench baseline (seconds, best-of-3, " +
    "local[32], sf0.1). Bench flags a query when it exceeds BOTH 2x " +
    "its baseline AND baseline+1s. Refresh ONLY via graft." +
    "BaselineRefresh: name the queries whose perf deliberately " +
    "changed (and say why in the commit), or -new for new queries. " +
    "Never copy bench_result.json wholesale."

  /** The baseline's "queries" object: per-query bests and calibration
    * legs. */
  private[graft] def entries(baseJson: String): Map[String, Double] =
    Json.doubles(Json.read(baseJson).get("queries"))

  /** The baseline `args` make of `baseJson` with the times in
    * `benchJson`, or None when nothing changes. Calibration legs
    * describe the box state the committed times came from, so an
    * existing leg is overwritten only under `-calib` (a deliberate
    * whole-state refresh); otherwise legs are seeded when absent and
    * kept when present — a `-new` addition on a temporarily slow box
    * cannot re-stamp the whole baseline's calibration. */
  def refresh(benchJson: String, baseJson: String,
      args: Seq[String]): Option[String] = {
    require(args.nonEmpty,
      "usage: BaselineRefresh (-new | -calib | q_name ...) — no wholesale refresh")
    val benchRoot = Json.read(benchJson)
    val bench = Json.doubles(benchRoot.get("queries"))
      .filter(_._1.startsWith("q_"))
    val baseRoot = Json.read(baseJson)
    val baseAll = Json.doubles(baseRoot.get("queries"))
    val base = baseAll.filter(_._1.startsWith("q_"))
    val named = args.filterNot(_.startsWith("-"))
    val unknown = named.filterNot(bench.contains)
    require(unknown.isEmpty,
      s"not in bench_result.json: ${unknown.mkString(", ")}")
    val adds = if (args.contains("-new")) bench -- base.keySet else Map.empty
    val updates = named.map(n => n -> bench(n))
    def legs(pick: (Option[Double], Option[Double]) => Option[Double]) =
      calibLegs.flatMap { case (benchKey, baseKey) =>
        pick(Option(benchRoot.get(benchKey)).map(_.asDouble),
          baseAll.get(baseKey)).map(baseKey -> _)
      }
    val calib = legs((benchV, baseV) =>
      if (args.contains("-calib")) benchV.orElse(baseV) else baseV.orElse(benchV))
    val before = base.toSeq.sortBy(_._1) ++ legs((_, baseV) => baseV)
    val after = (base ++ adds ++ updates).toSeq.sortBy(_._1) ++ calib
    if (after == before) None
    else Some(Json.pretty(ListMap("_comment" -> comment,
      "sf" -> Option(baseRoot.get("sf")).map(_.asText).getOrElse(""),
      "queries" -> ListMap(after.map { case (k, v) => k -> Json.num(v, 4) }: _*))))
  }

  def main(args: Array[String]): Unit = {
    val baseJson = Files.readString(basePath)
    refresh(Files.readString(benchPath), baseJson, args.toSeq) match {
      case None => println("baseline unchanged")
      case Some(out) =>
        Files.writeString(basePath, out)
        val (was, now) = (entries(baseJson), entries(out))
        now.keys.toSeq.sorted.filterNot(k => was.get(k).contains(now(k)))
          .foreach { n =>
            val old = was.get(n).map(v => f"$v%.4f").getOrElse("(new)")
            println(f"$n%-28s $old -> ${now(n)}%.4f")
          }
    }
  }
}
