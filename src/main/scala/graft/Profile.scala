package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import scala.collection.concurrent.TrieMap
import scala.collection.immutable.ListMap

/** Dev-only: time named queries at a given sf dir the way [[Bench]]
  * does, and print one `PROFILE {json}` line per query:
  * `{"q", "best", "runs"}` in seconds, or `{"q", "error"}`. Bench's
  * isolated recheck forks this main and reads those lines. Each query
  * warms once at tiny scale for JIT parity with Bench, then once untimed
  * at `sfDir` so one-time artifact builds (IVF index, CTAS fixtures)
  * don't skew the first timed run. Usage:
  *   runMain graft.Profile <sfDir> [-explain] [-jobs] q_a q_b ...
  * `-explain` dumps the formatted physical plan. `-jobs` runs each query
  * once more and lists every Spark job that run schedules, with wall
  * time, task time, task count and description — the fixed-job-latency
  * attribution of lifecycle queries (job-count-bound at test SFs).
  * Honors SPARK_GRAFT_CPUS like Bench (default 32 = the driver's
  * setting).
  */
object Profile {

  /** Every job since the last `jobs.clear()`: id -> (start ms, end ms,
    * task ms, tasks, description). */
  private final class JobLog extends SparkListener {
    private val stageJob = TrieMap.empty[Int, Int]
    val jobs = TrieMap.empty[Int, (Long, Long, Long, Int, String)]
    override def onJobStart(js: SparkListenerJobStart): Unit = {
      val props = Option(js.properties)
      val desc = props.flatMap(p => Option(p.getProperty("spark.job.description")))
        .orElse(props.flatMap(p => Option(p.getProperty("callSite.short"))))
        .orElse(js.stageInfos.headOption.map(_.name)) // "<op> at <File>:<line>"
        .getOrElse("?")
      js.stageIds.foreach(stageJob.put(_, js.jobId))
      jobs.put(js.jobId, (js.time, js.time, 0L, 0, desc))
    }
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
      for (id <- stageJob.get(te.stageId); (t0, t1, ms, n, d) <- jobs.get(id))
        jobs.put(id, (t0, t1, ms + Option(te.taskMetrics)
          .map(_.executorRunTime).getOrElse(0L), n + 1, d))
    override def onJobEnd(je: SparkListenerJobEnd): Unit =
      for ((t0, _, ms, n, d) <- jobs.get(je.jobId))
        jobs.put(je.jobId, (t0, je.time, ms, n, d))
  }

  /** One query's result line: its best and every run at 2 decimals, or
    * the failure when no run succeeded. */
  private[graft] def line(q: String, times: Seq[Double],
      failure: Option[Throwable]): String =
    "PROFILE " + Json.write(
      if (times.isEmpty) ListMap("q" -> q, "error" -> Harness.describe(failure.get, 200))
      else ListMap("q" -> q, "best" -> Json.num(times.min, 2),
        "runs" -> times.map(Json.num(_, 2))))

  def main(args: Array[String]): Unit = {
    val explain = args.contains("-explain")
    val jobLog = if (args.contains("-jobs")) Some(new JobLog) else None
    val positional = args.filterNot(_.startsWith("-"))
    require(positional.nonEmpty && new java.io.File(positional.head).isDirectory,
      s"first positional arg must be an sf data dir, got: ${positional.headOption.getOrElse("<none>")}")
    val sfDir = positional.head
    val spark = Harness.session(32)
    jobLog.foreach(spark.sparkContext.addSparkListener)
    try RefConformance.ensure(spark, sfDir) catch { case _: Throwable => () }
    positional.tail.foreach { n =>
      SparkEntry.queries.get(n) match {
        case None => println(line(n, Nil,
          Some(new NoSuchElementException("unknown query name"))))
        case Some(q) =>
          Harness.warm(q(spark, Harness.WarmDir))
          Harness.warm(q(spark, sfDir))
          Harness.sweep(spark)
          val (times, failure) =
            Harness.timeRuns(3)(Harness.force(q(spark, sfDir)))
          println(line(n, times, failure))
          if (times.nonEmpty && explain) q(spark, sfDir).explain("formatted")
          if (times.nonEmpty) jobLog.foreach { log =>
            log.jobs.clear()
            val total = Harness.best(1)(Harness.force(q(spark, sfDir)))
            Thread.sleep(300) // let the listener bus drain
            val jobs = log.jobs.toSeq.sortBy(_._1)
            println(f"JOBS $n total=$total%.2fs jobs=${jobs.size} " +
              f"jobTime=${jobs.map(j => j._2._2 - j._2._1).sum / 1000.0}%.2fs")
            jobs.foreach { case (id, (t0, t1, taskMs, tasks, desc)) =>
              println(f"  job#$id%-4d wall=${(t1 - t0) / 1000.0}%6.3fs " +
                f"task=${taskMs / 1000.0}%6.3fs n=$tasks%-3d ${desc.take(90)}")
            }
          }
      }
    }
    spark.stop()
  }
}
