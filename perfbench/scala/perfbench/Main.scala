package perfbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.sql.{Row, SparkSession}

/** One measured operation: its class, start and end (ms since the
  * measured phase began) and whether it succeeded with a correct
  * answer. */
final case class Op(cls: String, name: String, t0: Double, t1: Double, ok: Boolean)

/** Shared state of one benchmark process: the config written by
  * run.py, the session, the tracer, the measured operations and the
  * output checks. A workload fills it; [[Main]] writes it out. */
final class Ctx(val cfg: JsonNode, val spark: SparkSession, val tracer: Tracer) {
  val seconds: Double = cfg.get("seconds").asDouble
  val work: String = cfg.get("work").asText
  val ops = new java.util.concurrent.ConcurrentLinkedQueue[Op]()
  val checks = mutable.ArrayBuffer.empty[Map[String, Any]]
  val extra = mutable.LinkedHashMap.empty[String, Any]
  private var measureStart = 0L
  var firstOpEpochMs = 0L
  var measuredS = 0.0

  def str(k: String): String = cfg.get(k).asText
  def strs(k: String): Seq[String] = cfg.get(k).elements.asScala.map(_.asText).toSeq

  val phases = mutable.ArrayBuffer.empty[(String, Double)]

  /** Time one named set-up or check phase, for the report; phases may
    * run on several threads at once. */
  def phase[T](name: String)(f: => T): T = {
    val t0 = System.nanoTime()
    try f finally phases.synchronized { phases += name -> (System.nanoTime() - t0) / 1e9 }
  }

  def startMeasuring(): Unit = {
    Heap.start()
    firstOpEpochMs = System.currentTimeMillis()
    measureStart = System.nanoTime()
  }

  def stopMeasuring(): Unit = {
    measuredS = (System.nanoTime() - measureStart) / 1e9
    Heap.stop()
  }

  def elapsedS: Double = (System.nanoTime() - measureStart) / 1e9

  /** Whether to start another unit of work that takes about `lastS`:
    * the first always runs; later ones only if they should end inside
    * the measured window, so a run does a whole number of units and
    * the count does not flip between runs on timing noise. */
  def another(lastS: Double, done: Int): Boolean =
    done == 0 || elapsedS + lastS <= seconds

  /** Run one measured operation; an exception counts it as failed. */
  def op[T](cls: String, name: String)(f: => T): Option[T] = {
    val t0 = System.nanoTime()
    val r = try Some(tracer.span(s"op:$cls:$name")(f)) catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] $cls $name failed: $e")
        None
    }
    val t1 = System.nanoTime()
    ops.add(Op(cls, name, (t0 - measureStart) / 1e6, (t1 - measureStart) / 1e6,
      r.isDefined))
    r
  }

  /** Record an output check; `op` ("<class>:<name>") names the
    * measured operation a wrong answer fails. */
  def check(name: String, ok: Boolean, detail: String = "", op: String = ""): Unit =
    synchronized {
      if (!ok) System.err.println(s"[perfbench] check failed: $name $detail")
      checks += Map("name" -> name, "ok" -> ok, "detail" -> detail, "op" -> op)
    }

  /** Run independent set-up or check steps concurrently (each submits
    * its own Spark jobs); rethrows the first failure. */
  def parallel(steps: (() => Unit)*): Unit = {
    val threads = steps.map { f =>
      val t = new Thread(() => f())
      val err = new java.util.concurrent.atomic.AtomicReference[Throwable]()
      t.setUncaughtExceptionHandler((_, e) => err.set(e))
      t.start()
      (t, err)
    }
    threads.foreach(_._1.join())
    threads.flatMap(t => Option(t._2.get)).headOption.foreach(e => throw e)
  }
}

/** Heap used right after each GC, peak over the measured phase. */
object Heap {
  @volatile private var peak = 0L
  @volatile private var on = false
  private lazy val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val listener = new NotificationListener {
    def handleNotification(n: Notification, hb: Any): Unit =
      if (on && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (k, v) if heapPools(k) => v.getUsed }.sum
        synchronized { peak = math.max(peak, used) }
      }
  }
  private def emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .collect { case e: NotificationEmitter => e }

  def start(): Unit = {
    peak = 0L
    on = true
    emitters.foreach(_.addNotificationListener(listener, null, null))
  }

  /** Stop watching; one collection at the end guarantees a sample. */
  def stop(): Unit = {
    System.gc()
    Thread.sleep(200)
    on = false
    emitters.foreach(e => try e.removeNotificationListener(listener) catch { case _: Throwable => })
  }

  def peakMb: Double = peak / 1048576.0
}

object Main {
  val mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** Row values as comparable strings: numbers by value, dates and
    * timestamps by their local wall-clock text, whatever Java type the
    * path (JDBC or in-process) delivered them as. */
  def canon(v: Any): String = v match {
    case null => "NULL"
    case d: java.lang.Double => if (d.isNaN) "NaN" else java.lang.Double.toString(d)
    case f: java.lang.Float => java.lang.Double.toString(f.toDouble)
    case b: java.math.BigDecimal =>
      if (b.signum == 0) "0" else b.stripTrailingZeros.toPlainString
    case b: scala.math.BigDecimal => canon(b.bigDecimal)
    case n: java.lang.Number => n.longValue.toString
    case t: java.sql.Timestamp => t.toLocalDateTime.toString
    case t: java.time.LocalDateTime => t.toString
    case t: java.time.Instant => t.atZone(java.time.ZoneOffset.UTC).toLocalDateTime.toString
    case d: java.sql.Date => d.toLocalDate.toString
    case d: java.time.LocalDate => d.toString
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case a: Array[Byte] => a.map("%02x".format(_)).mkString
    case o => o.toString
  }

  def canonRows(rows: Seq[Row]): Seq[String] =
    rows.map(r => (0 until r.length).map(i => canon(r.get(i))).mkString("|"))

  /** (files, bytes) under `path`. */
  def treeStats(path: String): (Long, Long) = {
    def walk(f: File): (Long, Long) =
      if (f.isDirectory) Option(f.listFiles).getOrElse(Array.empty[File])
        .map(walk).foldLeft((0L, 0L))((a, b) => (a._1 + b._1, a._2 + b._2))
      else if (f.isFile) (1L, f.length)
      else (0L, 0L)
    walk(new File(path))
  }

  def main(args: Array[String]): Unit = {
    val cfg = mapper.readTree(new File(args(0)))
    val cpus = cfg.get("cpus").asInt
    val spark = graft.Engine.session(master = s"local[$cpus]", shufflePartitions = cpus)
    spark.sparkContext.setLogLevel("ERROR")
    graft.Engine.configure(spark)
    val sessionReadyMs = System.currentTimeMillis()
    val tracer = new Tracer(spark, cfg.get("trace").asInt == 1)
    val ctx = new Ctx(cfg, spark, tracer)
    val workload = cfg.get("workload").asText
    try {
      workload match {
        case "serve_mixed" => ServeMixed.run(ctx)
        case "batch_etl" => BatchEtl.run(ctx)
        case "ingest_cdc" => IngestCdc.run(ctx)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        ctx.check("workload completed", ok = false, e.toString)
    }
    tracer.drain()
    val traceOut: Map[String, Any] =
      if (!tracer.enabled) Map.empty
      else Map(
        "spans" -> tracer.allSpans.map(s => Map("id" -> s.id, "op" -> s.op,
          "parent" -> s.parent, "name" -> s.name, "t0" -> s.t0, "t1" -> s.t1)),
        "counters" -> tracer.jobs.bySpan.asScala.map { case (k, c) =>
          k.toString -> c.toMap }.toMap,
        "queries" -> tracer.queries.records.asScala.toSeq.map { q =>
          Map("span" -> tracer.jobs.spanOfQuery(q.queryId),
            "func" -> q.func, "analysis_ms" -> q.analysisMs,
            "optimization_ms" -> q.optimizationMs, "planning_ms" -> q.planningMs,
            "exec_ms" -> q.execMs,
            "cuboid" -> q.scansCuboid, "failed" -> q.failed)
        })
    tracer.close()
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val out = Map(
      "workload" -> workload,
      "jvm_start_ms" -> jvmStartMs,
      "session_ready_ms" -> sessionReadyMs,
      "first_op_ms" -> ctx.firstOpEpochMs,
      "measured_s" -> ctx.measuredS,
      "heap_peak_mb" -> Heap.peakMb,
      "ops" -> ctx.ops.asScala.toSeq.map(o => Map("cls" -> o.cls, "name" -> o.name,
        "t0" -> o.t0, "t1" -> o.t1, "ok" -> o.ok)),
      "checks" -> ctx.checks.toSeq,
      "extra" -> ctx.extra.toMap,
      "phases" -> ctx.phases.toSeq.map { case (k, v) => Seq(k, v) },
      "trace" -> traceOut)
    mapper.writeValue(new File(cfg.get("result").asText), out)
    spark.stop()
    System.exit(0)
  }
}
