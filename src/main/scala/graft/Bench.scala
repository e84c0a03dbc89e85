package graft

import graft.BenchGate.Reading
import graft.Harness.force
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import scala.collection.immutable.{ListMap, TreeMap}

/** Benchmark main: times every SparkEntry query at the target scale
  * factor and emits ONE JSON line (stdout + `bench_result.json`).
  *
  * Hygiene (so numbers measure the queries, not the harness):
  *  - JIT/codegen warmup: the full query set runs once at sf0.001
  *    before any timing starts;
  *  - one-time artifacts (reference fixture tables, the IVF index) are
  *    built during warmup at the BENCH scale factor, so timings reflect
  *    steady-state query cost, not first-use index builds;
  *  - timing forces FULL materialization of every output column
  *    ([[Harness.force]]);
  *  - the JSON also lands in a file because sbt interleaves its own
  *    log noise into stdout.
  */
object Bench {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session(4)
    // fail fast with a NAMED diff on testdata type drift, instead of
    // N identical analysis errors across the timed suite
    Engine.assertSchemas(spark, sfDir)

    val names = SparkEntry.queries.keys.toSeq.sorted

    // ---- warmup: JIT + codegen at tiny scale, one-time builds at bench scale
    if (new java.io.File(Harness.WarmDir).exists())
      names.foreach(n => Harness.warm(SparkEntry.queries(n)(spark, Harness.WarmDir)))
    try RefConformance.ensure(spark, sfDir) catch { case _: Throwable => () }
    // queries with one-time artifact builds (CTAS tables, IVF index):
    // run once at the bench SF so timings reflect steady-state cost
    Seq("q_embed_ivf_topk", "q_embed_ivfpq_topk", "q_ref_decomposed_verbatim",
        "q_bucketed_join", "q_zorder_box", "q_cube_build",
        "q_cube_route", "q_bm25_indexed", "q_index_point",
        "q_index_range").foreach(n =>
      Harness.warm(SparkEntry.queries(n)(spark, sfDir)))

    // ---- box calibration: fixed reference workloads timed like
    // queries. The shared box's speed drifts by tens of percent between
    // runs (observed 77s → 106s full-suite swings on identical code),
    // which the absolute regression gate misreads as per-query
    // regressions. The calibration ratio vs the baseline's recorded
    // __calib RELAXES the gate on a slower box (BenchGate.calibAdj), so
    // the gate flags code, not weather. Two legs, because box weather
    // comes in two kinds:
    //  - CPU leg: spark.range(CalibRows) codegen'd xxhash64 sum — no
    //    IO, no shuffle; sees scheduler/CPU contention.
    //  - IO leg: full-column hash scan of the fixed sf0.01 lineitem +
    //    a 256 MB tempfile write with fsync — sees disk/page-cache
    //    contention, which the CPU leg is blind to (r12's one
    //    confirmed "breach", q_dedup_incremental at 4.6x its mid-round
    //    time with calib flat at 1.0, had exactly this signature).
    val CalibRows = 4000000000L // 4B rows; keep in sync with the CPU leg
    val calib = Harness.best(3) {
      spark.range(CalibRows)
        .select(sum(xxhash64(col("id")))).collect()
    }
    val ioDir = "/root/testdata/sf0.01"
    // whether the scan half of the IO leg ran is part of the leg's
    // WORKLOAD SHAPE: a box where the fixed sf0.01 dir is absent runs a
    // write-only leg whose time is not comparable to a scan+write
    // baseline. The flag is recorded next to the leg and the gate falls
    // back to no-IO-relaxation when the shapes differ (see BenchGate.calibAdj).
    val calibIoScan = new java.io.File(ioDir, "lineitem.parquet").exists()
    val calibIo = {
      val buf = new Array[Byte](1 << 20)
      new java.util.Random(42).nextBytes(buf)
      Harness.best(3) {
        if (calibIoScan) force(spark.read.parquet(s"$ioDir/lineitem.parquet"))
        val tmp = java.io.File.createTempFile("graft_calib_io_", ".bin")
        try {
          val out = new java.io.FileOutputStream(tmp)
          try {
            var written = 0L
            while (written < (256L << 20)) { out.write(buf); written += buf.length }
            out.getFD.sync()
          } finally out.close()
        } finally tmp.delete()
      }
    }

    // ---- timed runs: best of 3 per query, after a sweep of the
    // previous query's garbage. A query with zero successful runs is
    // reported as -1 and listed in "errors".
    val errorDetails = scala.collection.mutable.Map[String, String]()
    val runs = names.map { n =>
      Harness.sweep(spark)
      val (times, failure) =
        Harness.timeRuns(3)(force(SparkEntry.queries(n)(spark, sfDir)))
      failure.foreach(e => errorDetails(n) = Harness.describe(e, 300))
      n -> times
    }
    val failed = runs.collect { case (n, ts) if ts.isEmpty => n }
    val results = runs.map { case (n, ts) =>
      n -> (if (ts.isEmpty) -1.0 else ts.min)
    }

    // ---- per-query regression gate against the committed baseline
    val basePath = Paths.get("BASELINE_QUERIES.json")
    val baseline: Map[String, Double] =
      if (!Files.exists(basePath)) Map.empty
      else Json.doubles(Json.read(Files.readString(basePath)).get("queries"))
    val adj = BenchGate.calibAdj(baseline, calib, calibIo, calibIoScan)
    val rawRegressions = BenchGate.rawRegressions(results, baseline, adj)
    val floorExempted = BenchGate.floorExempted(results, baseline, adj)

    // ---- SELF-ADJUDICATION: a shared-JVM breach is re-measured in a
    // FRESH forked JVM (graft.Profile) before it may be called a
    // regression: two rounds of phantom regressions (r6, r7: five each,
    // every one cleared in isolation) showed the shared 130+-query JVM
    // inflates the allocation-heavy dedup tail 3-5x via GC contamination.
    // ---- cross-round isolated-drift ledger (DRIFT.json, committed):
    // slow creep under the 2x gate (phash r13, dd_incremental r14, bm25
    // r14-r15) was caught by prose notes for three rounds; every
    // contract-scale run also fresh-JVM-profiles the ledger's watchlist
    // and steps it (BenchGate.driftStep). A ledger that does not parse
    // is left as it is.
    val driftPath = Paths.get("DRIFT.json")
    val driftLedger = Some(driftPath)
      .filter(p => sfDir.endsWith("sf0.1") && Files.exists(p))
      .map(p => Files.readString(p)).filter(_.nonEmpty)
      .flatMap(text => scala.util.Try(readDrift(text)).toOption)
      .map(d => d.copy(watch = d.watch.filter(SparkEntry.queries.contains)))
    val driftWatch = driftLedger.map(_.watch).getOrElse(Seq.empty)
    val isolateSet =
      (rawRegressions.map(_._1) ++ driftWatch).distinct
    val isolatedTimes: Map[String, Double] =
      if (isolateSet.isEmpty) Map.empty
      else try {
        // the fork must not compete with this JVM's 130+-query heap:
        // stop the session and drain garbage BEFORE forking, or the
        // recheck itself measures parent-JVM memory pressure (observed
        // 3x inflation vs a standalone graft.Profile of the same
        // query) and re-flags the very noise it exists to clear
        spark.stop()
        System.gc()
        val javaBin = new java.io.File(new java.io.File(
          sys.props("java.home"), "bin"), "java").getAbsolutePath
        val args = new scala.collection.mutable.ArrayBuffer[String]()
        val it = java.lang.management.ManagementFactory.getRuntimeMXBean
          .getInputArguments.iterator()
        while (it.hasNext) {
          val a = it.next()
          if (a == "--add-opens" && it.hasNext) { args += a; args += it.next() }
          else if (a.startsWith("--add-opens=") || a.startsWith("-Xmx") ||
            a.startsWith("-D")) args += a
        }
        val cmd = (Seq(javaBin) ++ args ++ Seq("-cp",
          sys.props("java.class.path"), "graft.Profile", sfDir) ++
          isolateSet).toArray
        // bounded wait — a wedged child must not hang the whole bench
        // run (no JSON line at all is worse than a conservative flag).
        // Output goes to a file, so the child never blocks on a full
        // pipe; on timeout, already-printed PROFILE lines still
        // adjudicate their queries, the rest stay flagged.
        val out = java.io.File.createTempFile("graft_recheck_", ".log")
        try {
          val p = new ProcessBuilder(cmd: _*).redirectErrorStream(true)
            .redirectOutput(out).start()
          if (!p.waitFor(120L + 90L * isolateSet.size,
              java.util.concurrent.TimeUnit.SECONDS)) p.destroyForcibly().waitFor()
          profileBests(new String(Files.readAllBytes(out.toPath)))
        } finally out.delete()
      } catch { case _: Throwable => Map.empty }
    val driftFlags: Map[String, (Double, Double)] =
      driftLedger.map { prior =>
        try {
          val label = sys.env.getOrElse("SPARK_GRAFT_ROUND",
            "b" + new java.text.SimpleDateFormat("MMddHHmm")
              .format(new java.util.Date()))
          val (flags, next) = BenchGate.driftStep(prior, label, adj,
            isolatedTimes, results, baseline)
          Files.writeString(driftPath, renderDrift(next))
          flags
        } catch { case _: Throwable => Map.empty[String, (Double, Double)] }
      }.getOrElse(Map.empty)
    val regressions = BenchGate.confirmed(rawRegressions, isolatedTimes, adj)
    val isolatedWarn = BenchGate.isolatedWarn(rawRegressions, isolatedTimes, adj)

    def n2(v: Double) = Json.num(v, 2)
    def readings(rs: Seq[Reading]) =
      ListMap(rs.map { case (n, t, b) => n -> Seq(n2(t), n2(b)) }: _*)
    val total = results.map(_._2).filter(_ >= 0).sum
    // failure diagnostics go to the FILE only (stdout is tail-budgeted):
    // a silent -1 in the per-query map is undebuggable after the fact
    def when(cond: Boolean)(kvs: (String, Any)*) = if (cond) kvs else Nil
    val result = ListMap[String, Any]("metric" -> "total",
        "value" -> Json.num(total, 4),
        "queries" -> ListMap(results.map { case (n, t) =>
          n -> Json.num(t, 4) }: _*),
        "regressions" -> readings(regressions),
        "isolated_recheck" -> ListMap(rawRegressions.map { case (n, t, b) =>
          n -> Seq(n2(t), n2(isolatedTimes.getOrElse(n, -1.0)), n2(b)) }: _*),
        "floor_exempted" -> readings(floorExempted),
        "unit" -> "sec", "sf" -> sfDir, "calib" -> n2(calib),
        "calib_io" -> n2(calibIo), "calib_io_scan" -> (if (calibIoScan) 1 else 0),
        "calib_adjust" -> n2(adj)) ++
      when(failed.nonEmpty)("errors" -> failed) ++
      when(isolatedWarn.nonEmpty)("isolated_warn" -> readings(isolatedWarn)) ++
      when(driftWatch.nonEmpty)(
        "drift_isolated" -> ListMap(driftWatch.flatMap(n =>
          isolatedTimes.get(n).map(t => n -> n2(t))): _*),
        "drift_flags" -> TreeMap(driftFlags.toSeq.map {
          case (n, (prev, now)) => n -> Seq(n2(prev), n2(now)) }: _*)) ++
      when(errorDetails.nonEmpty)(
        "error_details" -> TreeMap(errorDetails.toSeq: _*))
    Files.writeString(Paths.get("bench_result.json"), Json.write(result) + "\n")
    // gate verdicts that must reach the driver's stdout tail:
    // rechecked = shared-JVM breaches adjudicated in a fresh JVM;
    // regr = breaches the ISOLATED run confirmed (zero when every
    // breach was harness noise)
    val gateBits = (if (rawRegressions.isEmpty) ""
      else s""","rechecked":${rawRegressions.size}""") +
      (if (regressions.isEmpty) "" else s""","regr":${regressions.size}""") +
      (if (driftFlags.isEmpty) "" else s""","drift":${driftFlags.size}""")
    println(stdoutLine(results, failed, gateBits, sfDir))
    spark.stop()
  }

  /** Query -> isolated best from [[Profile]]'s `PROFILE {json}` lines in
    * a fork's output; a line that does not parse (cut by a timeout, or
    * interleaved with log output) adjudicates nothing. */
  private[graft] def profileBests(out: String): Map[String, Double] =
    out.linesIterator.filter(_.startsWith("PROFILE ")).flatMap { l =>
      scala.util.Try(Json.read(l.stripPrefix("PROFILE "))).toOption
        .filter(_.has("best")).map(r => r.get("q").asText -> r.get("best").asDouble)
    }.toMap

  /** DRIFT.json -> ledger; a record without an adj reads as adj 1.0. */
  private[graft] def readDrift(text: String): BenchGate.Drift = {
    val root = Json.read(text)
    BenchGate.Drift(
      Json.elements(root.get("watch")).map(_.asText),
      Json.elements(root.get("watch_log"))
        .map(Json.mapper.treeToValue(_, classOf[BenchGate.WatchLog])),
      Json.elements(root.get("records")).map(r => BenchGate.DriftRecord(
        r.get("label").asText,
        Option(r.get("adj")).map(_.asDouble).getOrElse(1.0),
        Json.doubles(r.get("isolated")), Json.doubles(r.get("shared_over")))))
  }

  /** Ledger -> DRIFT.json: one log entry or record per line, numbers at
    * 2 decimals. */
  private[graft] def renderDrift(d: BenchGate.Drift): String = {
    def nums(m: Map[String, Double]) =
      TreeMap(m.toSeq.map { case (k, v) => k -> Json.num(v, 2) }: _*)
    val records = d.records.map(r => ListMap[String, Any]("label" -> r.label,
        "adj" -> Json.num(r.adj, 2), "isolated" -> nums(r.isolated)) ++
      (if (r.sharedOver.isEmpty) Nil else Seq("shared_over" -> nums(r.sharedOver))))
    def lines(xs: Seq[Any]) = xs.map("  " + Json.write(_)).mkString(",\n")
    s"""{"watch": [${d.watch.map(Json.write).mkString(", ")}],\n""" +
      s""" "watch_log": [\n${lines(d.log)}\n ],\n""" +
      s""" "records": [\n${lines(records)}\n ]}\n"""
  }

  // Locale.ROOT: a comma-decimal default locale must not corrupt the
  // JSON contract line or bench_result.json
  private def fmt(v: Double, p: Int): String =
    String.format(java.util.Locale.ROOT, s"%.${p}f", Double.box(v))

  /** stdout-only family-prefix abbreviations (applied after the q_
    * strip) so the full per-query map keeps fitting the driver's tail
    * as the suite grows: tpch_q→t, ref_→r_, dedup_→dd_, embed_→em_,
    * text_→tx_, window_→w_. bench_result.json always carries the
    * full names. */
  private val abbrevs = Seq("tpch_q" -> "t", "ref_" -> "r_",
    "dedup_" -> "dd_", "embed_" -> "em_", "text_" -> "tx_",
    "window_" -> "w_")

  /** The driver-facing stdout contract line. The driver keeps only the
    * last ~2000 chars of stdout and parses the JSON line out of that
    * tail (r1/r2 BENCH both came back `parsed:null` because the line
    * overflowed it); ~1915 chars is the budget — 2000 minus sbt's
    * trailing "[success] Total time: …" line (~76 chars). Strategy:
    * strip the shared "q_" prefix and drop "sf"/"unit" (the driver
    * records the scale factor itself; seconds are the contract
    * default), then degrade 2-decimals → 1-decimal → abbreviated
    * names → slowest-first packing, stopping at the first variant
    * that fits. Factored out of main and BenchSpec-pinned at 225
    * synthetic queries so suite growth can't silently overflow the
    * tail again. */
  private[graft] def stdoutLine(results: Seq[(String, Double)],
      failed: Seq[String], gateBits: String, sfDir: String): String = {
    val errs = if (failed.isEmpty) ""
      else failed.map("\"" + _ + "\"").mkString(""","errors":[""", ",", "]")
    val total = results.map(_._2).filter(_ >= 0).sum
    def shortName(k: String, abbrev: Boolean): String = {
      val base = k.stripPrefix("q_")
      if (!abbrev) base
      else abbrevs.foldLeft(base) { case (n, (from, to)) =>
        if (n.startsWith(from)) to + n.stripPrefix(from) else n
      }
    }
    def shortLine(p: Int, abbrev: Boolean): String = {
      val qs = results.map { case (k, v) =>
        "\"" + shortName(k, abbrev) + "\":" + fmt(v, p)
      }.mkString("{", ",", "}")
      s"""{"metric":"total","value":${fmt(total, p)},"queries":$qs$errs$gateBits}"""
    }
    Seq(shortLine(2, abbrev = false), shortLine(1, abbrev = false),
        shortLine(1, abbrev = true))
      .find(_.length <= 1915)
      .getOrElse {
        // full map no longer fits: keep the SLOWEST queries (the only
        // ones a round-over-round diff can learn from), abbreviated,
        // packing as many as the tail budget allows; total + n_queries
        // still cover the fast remainder. Gate verdicts must survive
        // this degraded format too.
        val head = s"""{"metric":"total","value":${fmt(total, 2)},"unit":"sec","n_queries":${results.size},"n_failed":${failed.size}$gateBits,"sf":${"\"" + sfDir + "\""},"slowest":{"""
        val entries = results.sortBy(-_._2).map { case (k, v) =>
          "\"" + shortName(k, abbrev = true) + "\":" + fmt(v, 1)
        }
        val budget = 1915 - head.length - 2
        val packed = entries.scanLeft(0)(_ + _.length + 1)
          .tail.zip(entries).takeWhile(_._1 <= budget).map(_._2)
        head + packed.mkString(",") + "}}"
      }
  }
}
