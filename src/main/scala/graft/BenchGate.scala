package graft

/** [[Bench]]'s gate and drift-ledger rules as pure functions of plain
  * values. Times are seconds. A baseline map holds the committed
  * per-query bests plus the calibration legs `__calib`, `__calib_io`
  * and `__calib_io_scan` (q_-less keys, never read as queries). */
object BenchGate {

  /** (query, time, baseline) of one gate reading. */
  type Reading = (String, Double, Double)

  /** One DRIFT.json record: the run's label and calibration `adj`, the
    * watched queries' RAW isolated bests, and the shared readings past
    * 1.5x baseline (adj-normalized ratios). */
  final case class DriftRecord(label: String, adj: Double,
      isolated: Map[String, Double], sharedOver: Map[String, Double])

  final case class WatchLog(label: String, op: String, q: String,
      reason: String)

  final case class Drift(watch: Seq[String], log: Seq[WatchLog],
      records: Seq[DriftRecord])

  val MaxRecords = 60
  val MaxLogEntries = 40

  /** Absolute floor on top of the 2x ratio, keeping 0.1s->0.25s jitter
    * out of the gate. Tiered: a flat +1s let a 3.6x drift on a 0.17s
    * baseline pass unflagged. */
  def floor(b: Double): Double = if (b < 0.3) 0.3 else 1.0

  /** Gate relaxation from box calibration: each leg's now/baseline
    * ratio clamped to [1, 3] (1 without a baseline leg), the wider of
    * the CPU and IO legs winning. The IO leg counts only when its
    * workload shape (scan+write vs write-only) matches the baseline's;
    * a baseline without the shape flag is taken as scan+write. */
  def calibAdj(baseline: Map[String, Double], calib: Double,
      calibIo: Double, calibIoScan: Boolean): Double = {
    def legAdj(key: String, now: Double): Double = baseline.get(key) match {
      case Some(bc) if bc > 0 => math.min(3.0, math.max(1.0, now / bc))
      case _ => 1.0
    }
    val ioShapeMatches = baseline.get("__calib_io_scan")
      .forall(_ == (if (calibIoScan) 1.0 else 0.0))
    val ioAdj = if (ioShapeMatches) legAdj("__calib_io", calibIo) else 1.0
    math.max(legAdj("__calib", calib), ioAdj)
  }

  /** Past BOTH 2x the baseline and the floor, each relaxed by `adj`. */
  def breaches(t: Double, b: Double, adj: Double): Boolean =
    t > 2 * b * adj && t > b * adj + floor(b)

  /** Shared-suite breaches; a new (unbaselined) or failed (negative
    * time) query never flags. */
  def rawRegressions(results: Seq[(String, Double)],
      baseline: Map[String, Double], adj: Double): Seq[Reading] =
    results.collect {
      case (n, t) if t >= 0 && baseline.get(n).exists(breaches(t, _, adj)) =>
        (n, t, baseline(n))
    }

  /** Report-only: past 2x baseline, exempted ONLY by the floor. */
  def floorExempted(results: Seq[(String, Double)],
      baseline: Map[String, Double], adj: Double): Seq[Reading] =
    results.collect {
      case (n, t) if t >= 0 && baseline.get(n).exists(b =>
        t > 2 * b * adj && !breaches(t, b, adj)) => (n, t, baseline(n))
    }

  /** A shared breach is a regression only if its isolated recheck
    * breaches too; one whose recheck did not run stays flagged. */
  def confirmed(raw: Seq[Reading], isolated: Map[String, Double],
      adj: Double): Seq[Reading] =
    raw.filter { case (n, _, b) => isolated.get(n).forall(breaches(_, b, adj)) }

  /** Isolation runs FASTER than the shared JVM, so a cleared recheck
    * can still hide a smaller regression: cleared rechecks past 1.5x
    * baseline, as (query, isolated time, baseline), surfaced only. */
  def isolatedWarn(raw: Seq[Reading], isolated: Map[String, Double],
      adj: Double): Seq[Reading] =
    raw.collect {
      case (n, _, b) if isolated.get(n).exists(t =>
        t > 1.5 * b * adj && !breaches(t, b, adj)) => (n, isolated(n), b)
    }

  private def f2(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))

  /** One contract-scale run's step through the ledger (whose watch is
    * already limited to known queries): the drift flags (query ->
    * (previous isolated best, this run's)) and the ledger to write.
    *  - Tripwire: a watched query's isolated best rose >= 1.25x its most
    *    recent prior record, EACH side normalized by its own run's adj
    *    (records keep raw bests, so a slow-box reading neither escapes
    *    the flag nor ratchets the next comparison upward).
    *  - Add: > 1.5x baseline (adj-normalized) in the shared suite of
    *    this run AND the previous record.
    *  - Retire: the last 3 isolated records (this run's included), each
    *    normalized by its own adj, all <= 1.25x the baseline.
    *  - Each mutation is logged with its reason; prior entries survive
    *    verbatim, capped at [[MaxLogEntries]] entries and [[MaxRecords]]
    *    records. */
  def driftStep(prior: Drift, label: String, adj: Double,
      isolated: Map[String, Double], results: Seq[(String, Double)],
      baseline: Map[String, Double]): (Map[String, (Double, Double)], Drift) = {
    val watch = prior.watch
    val nowRec = watch.flatMap(n => isolated.get(n).map(n -> _)).toMap
    val flags = nowRec.flatMap { case (n, t) =>
      prior.records.reverse.collectFirst {
        case r if r.isolated.contains(n) => (r.isolated(n), r.adj)
      }.collect { case (prev, pAdj)
          if prev > 0 && t / adj >= 1.25 * (prev / pAdj) => n -> (prev, t)
      }
    }
    val nowOver = results.collect {
      case (n, t) if t >= 0 && baseline.get(n).exists(b =>
        b > 0 && t > 1.5 * b * adj) => n -> (t / (baseline(n) * adj))
    }.toMap
    val prevOver = prior.records.lastOption.map(_.sharedOver.keySet)
      .getOrElse(Set.empty[String])
    val adds = nowOver.keySet.intersect(prevOver).diff(watch.toSet)
      .toSeq.sorted
    val records = prior.records :+ DriftRecord(label, adj, nowRec, nowOver)
    val isoSeries = watch.map(n =>
      n -> records.flatMap(r => r.isolated.get(n).map(_ / r.adj))).toMap
    val retires = watch.filter { n =>
      baseline.get(n).exists { b =>
        val s = isoSeries(n)
        b > 0 && s.length >= 3 && s.takeRight(3).forall(_ <= 1.25 * b)
      }
    }.sorted
    val log = adds.map(n => WatchLog(label, "add", n,
        "shared > 1.5x baseline in two consecutive runs (now " +
          f2(nowOver(n)) + "x)")) ++
      retires.map(n => WatchLog(label, "retire", n,
        "last 3 isolated records <= 1.25x baseline, adj-normalized (" +
          isoSeries(n).takeRight(3).map(f2).mkString(",") + " vs " +
          f2(baseline(n)) + ")"))
    (flags, Drift((watch.filterNot(retires.contains) ++ adds).distinct,
      (prior.log ++ log).takeRight(MaxLogEntries),
      records.takeRight(MaxRecords)))
  }
}
