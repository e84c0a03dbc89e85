package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** What the dev mains ([[Bench]], [[Profile]], [[ScaleBench]],
  * [[ScaleProbe]], [[Verify]]) share, so a time from one means the same
  * as a time from another. */
object Harness {

  /** JIT/codegen warm-up data: the full query set runs here once before
    * any timing starts. */
  val WarmDir = "/root/testdata/sf0.001"

  /** A local session for a dev main: [[Engine.builder]]'s session
    * with `SPARK_GRAFT_CPUS` cores (`defaultCpus` when unset) and as
    * many shuffle partitions, the engine's runtime confs, log level
    * ERROR. The app-status stores keep per-execution metrics even with
    * the UI off; over a whole suite the default retention is tens of MB
    * of old-gen ballast that taxes the queries run late, so it is
    * capped. */
  def session(defaultCpus: Int): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus.toString).toInt
    val spark = Engine.builder(s"local[$cpus]", cpus)
      .config("spark.sql.ui.retainedExecutions", "8")
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "200")
      .config("spark.ui.retainedTasks", "1000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Engine.configure(spark)
  }

  /** Evaluate every cell of every row: hash each row across all output
    * columns, then aggregate. `count()` would let Catalyst prune
    * computed projections and under-measure; this prunes nothing and
    * returns one tiny row. */
  def force(df: DataFrame): Unit = {
    df.agg(sum(xxhash64(struct(df.columns.map(col): _*)))).collect()
    ()
  }

  /** An untimed warm-up run; a query that throws here is reported by
    * its timed runs. */
  def warm(df: => DataFrame): Unit =
    try force(df) catch { case _: Throwable => () }

  /** Drain the previous query's leftovers before timing the next one:
    * iterative operators localCheckpoint per round, and those blocks
    * stay until their RDD is GC'd and the ContextCleaner runs — GC
    * contamination that reads as phantom regressions on untouched
    * queries. Every cache in this engine is query-local. */
  def sweep(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
    System.gc()
  }

  /** Seconds of each of `runs` runs of `f`, and the last failure. A
    * run that throws is not timed: its elapsed-until-exception would
    * read as a fast best. Callers take the best (min) of the times —
    * single-shot numbers swing 30%+ on GC/JIT noise. */
  def timeRuns(runs: Int)(f: => Unit): (Seq[Double], Option[Throwable]) = {
    var failure: Option[Throwable] = None
    val times = (1 to runs).flatMap { _ =>
      val t0 = System.nanoTime()
      try { f; Some((System.nanoTime() - t0) / 1e9) }
      catch { case e: Throwable => failure = Some(e); None }
    }
    (times, failure)
  }

  /** The best of `runs` runs of `f`; throws the last failure when no
    * run succeeds. */
  def best(runs: Int)(f: => Unit): Double = timeRuns(runs)(f) match {
    case (Seq(), failure) => throw failure.get
    case (times, _) => times.min
  }

  /** `Class: message`, at most `n` chars. */
  def describe(e: Throwable, n: Int): String =
    Json.clip(e.getClass.getSimpleName + ": " + e.getMessage, n)
}
