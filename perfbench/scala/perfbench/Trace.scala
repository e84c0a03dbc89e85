package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans around the benchmark's calls into the engine's layers, plus
  * the Spark counters of the jobs each call causes.
  *
  * A span has a name, start, end, parent and the id of the operation
  * it belongs to. Jobs are attributed to the innermost open span
  * through a job tag (`pbspan-<span>`) set around each call; a JDBC
  * statement runs on a server thread that does not inherit tags, so
  * the client appends the same tag to the SQL text as a comment, which
  * the server copies into the job description. Everything is kept in memory and serialised once at
  * the end of the run. With `enabled = false` every method is a plain
  * call: no tags, no listeners, no spans.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  import Tracer._

  private val sc = spark.sparkContext
  private val ids = new AtomicLong(0)
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[(Long, Long)]] {
    override def initialValue(): List[(Long, Long)] = Nil
  }
  val jobs = new JobListener
  val queries = new QueryListener

  if (enabled) {
    sc.addSparkListener(jobs)
    spark.listenerManager.register(queries)
  }

  /** Open a span on this thread; a span with no open parent starts a
    * new operation. Returns (op id, span id). */
  private def open(name: String): (Long, Long, Long) = {
    val id = ids.incrementAndGet()
    val (parent, op) = stack.get() match {
      case (p, o) :: _ => (p, o)
      case Nil => (0L, id)
    }
    stack.set((id, op) :: stack.get())
    (op, id, parent)
  }

  def span[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val (op, id, parent) = open(name)
      val tag = s"pbspan-$id"
      sc.addJobTag(tag)
      val t0 = System.nanoTime()
      try f
      finally {
        val t1 = System.nanoTime()
        sc.removeJobTag(tag)
        stack.set(stack.get().tail)
        spans.add(Span(id, op, parent, name, t0, t1))
      }
    }

  /** A span whose work runs elsewhere (a JDBC statement): `f` gets the
    * SQL comment that carries the span's tag to the server. */
  def remoteSpan[T](name: String)(f: String => T): T =
    if (!enabled) f("")
    else {
      val (op, id, parent) = open(name)
      val t0 = System.nanoTime()
      try f(s" /* pbspan-$id */")
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get().tail)
        spans.add(Span(id, op, parent, name, t0, t1))
      }
    }

  /** Wait until the listener bus has delivered every event posted so
    * far: two tagged marker jobs, and the second one's end seen. */
  def drain(): Unit = if (enabled) {
    val before = jobs.markers.get()
    (1 to 2).foreach { _ =>
      sc.setJobDescription(MarkerDescription)
      try spark.range(1).collect() finally sc.setJobDescription(null)
    }
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (jobs.markers.get() < before + 2 && System.nanoTime() < deadline)
      Thread.sleep(20)
  }

  def allSpans: Seq[Span] = spans.asScala.toSeq.sortBy(_.id)

  def close(): Unit = if (enabled) {
    sc.removeSparkListener(jobs)
    spark.listenerManager.unregister(queries)
  }
}

object Tracer {
  val MarkerDescription = "perfbench-drain-marker"
  private val Tag = raw"pbspan-(\d+)".r

  final case class Span(id: Long, op: Long, parent: Long, name: String,
      t0: Long, t1: Long)

  /** The innermost span named by the tags in `s` (inner spans have
    * larger ids), 0 when there is none. */
  def owner(s: String): Long =
    if (s == null) 0L
    else Tag.findAllMatchIn(s).map(_.group(1).toLong).maxOption.getOrElse(0L)

  /** Task counters summed over the tasks of one span's jobs. */
  final class Counters {
    val jobs, stages, tasks, taskMs, cpuNs, gcMs = new LongAdder
    val shuffleWrite, shuffleRead, spill, input, result = new LongAdder
    val jobMs = new LongAdder
    def toMap: Map[String, Long] = Map(
      "jobs" -> jobs.sum, "stages" -> stages.sum, "tasks" -> tasks.sum,
      "task_ms" -> taskMs.sum, "cpu_ns" -> cpuNs.sum, "gc_ms" -> gcMs.sum,
      "shuffle_write_b" -> shuffleWrite.sum, "shuffle_read_b" -> shuffleRead.sum,
      "spill_b" -> spill.sum, "input_b" -> input.sum,
      "driver_result_b" -> result.sum, "job_ms" -> jobMs.sum)
  }

  private val QeAccessor = classOf[SparkListenerSQLExecutionEnd].getMethod("qe")

  final class JobListener extends SparkListener {
    val markers = new AtomicLong(0)
    val bySpan = new ConcurrentHashMap[Long, Counters]()
    private val jobSpan = new ConcurrentHashMap[Int, java.lang.Long]()
    private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]()
    private val stageSpan = new ConcurrentHashMap[Int, java.lang.Long]()
    private val resultStages = ConcurrentHashMap.newKeySet[Int]()
    private val markerJobs = ConcurrentHashMap.newKeySet[Int]()
    /** SQL execution id -> owning span (from the execution's tags or
      * description, else from its jobs). */
    val execSpan = new ConcurrentHashMap[Long, Long]()
    /** QueryExecution id -> SQL execution id (they are numbered apart). */
    val queryExec = new ConcurrentHashMap[Long, Long]()

    /** The span that owns a query the query listener reported, or 0. */
    def spanOfQuery(queryId: Long): Long =
      Option(queryExec.get(queryId)).map(e => execSpan.getOrDefault(e, 0L)).getOrElse(0L)

    private def counters(span: Long) =
      bySpan.computeIfAbsent(span, _ => new Counters)

    private def ownerOf(props: java.util.Properties): Long =
      if (props == null) 0L
      else {
        val byTag = owner(props.getProperty("spark.job.tags"))
        if (byTag != 0) byTag else owner(props.getProperty("spark.job.description"))
      }

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = ownerOf(e.properties)
      if (e.properties != null && e.properties.getProperty(
          "spark.job.description") == MarkerDescription) markerJobs.add(e.jobId)
      jobStart.put(e.jobId, e.time)
      jobSpan.put(e.jobId, span)
      if (span != 0) {
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .foreach(id => execSpan.putIfAbsent(id.toLong, span))
      }
      e.stageInfos.foreach(s => stageSpan.put(s.stageId, span))
      e.stageInfos.sortBy(-_.stageId).headOption
        .foreach(s => resultStages.add(s.stageId))
      counters(span).jobs.increment()
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val span: Long = Option(jobSpan.get(e.jobId)).map(_.longValue).getOrElse(0L)
      Option(jobStart.remove(e.jobId)).foreach(t =>
        counters(span).jobMs.add(e.time - t))
      if (markerJobs.remove(e.jobId)) markers.incrementAndGet()
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val span: Long = Option(stageSpan.get(e.stageInfo.stageId))
        .map(_.longValue).getOrElse(0L)
      counters(span).stages.increment()
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m == null) return
      val span: Long = Option(stageSpan.get(e.stageId)).map(_.longValue).getOrElse(0L)
      val c = counters(span)
      c.tasks.increment()
      c.taskMs.add(m.executorRunTime)
      c.cpuNs.add(m.executorCpuTime)
      c.gcMs.add(m.jvmGCTime)
      c.shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
      c.shuffleRead.add(m.shuffleReadMetrics.totalBytesRead)
      c.spill.add(m.diskBytesSpilled)
      c.input.add(m.inputMetrics.bytesRead)
      if (resultStages.contains(e.stageId)) c.result.add(m.resultSize)
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        val byTag = owner(s.jobTags.mkString(","))
        val span = if (byTag != 0) byTag else owner(s.description)
        if (span != 0) execSpan.put(s.executionId, span)
      case e: SparkListenerSQLExecutionEnd =>
        // `qe` is package-private in Scala but a public JVM method
        Option(QeAccessor.invoke(e)).foreach(q =>
          queryExec.put(q.asInstanceOf[QueryExecution].id, e.executionId))
      case _ =>
    }
  }

  /** Planning phases, execution time (planning included, analysis
    * not) and routing of every SQL execution. */
  final case class QueryRecord(queryId: Long, func: String, analysisMs: Double,
      optimizationMs: Double, planningMs: Double, execMs: Double, scansCuboid: Boolean,
      failed: Boolean)

  final class QueryListener extends QueryExecutionListener {
    val records = new java.util.concurrent.ConcurrentLinkedQueue[QueryRecord]()

    private def record(func: String, qe: QueryExecution, execNs: Long,
        failed: Boolean): Unit = {
      val phases = qe.tracker.phases
      def ms(p: String) = phases.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
      val cuboid =
        try qe.optimizedPlan.collectLeaves().exists(_.toString.contains("cube_"))
        catch { case _: Throwable => false }
      records.add(QueryRecord(qe.id, func, ms("analysis"), ms("optimization"),
        ms("planning"), execNs / 1e6, cuboid, failed))
    }

    override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit =
      record(func, qe, durationNs, failed = false)

    override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit =
      record(func, qe, 0L, failed = true)
  }
}
