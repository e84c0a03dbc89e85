package org.apache.spark.graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Spark jobs a block schedules, counted by a SparkListener. Lives
  * under `org.apache.spark` to drain the (asynchronous) listener bus
  * before the count is read. */
object JobCount {

  /** Jobs `f` schedules on this thread, scoped to a fresh job group. */
  def apply[T](spark: SparkSession)(f: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"graft-jobcount-${java.util.UUID.randomUUID()}"
    sc.setJobGroup(group, group)
    try counted(spark)(e => Option(e.properties).exists(
      _.getProperty(org.apache.spark.SparkContext.SPARK_JOB_GROUP_ID) == group))(f)
    finally sc.clearJobGroup()
  }

  /** Every job started while `f` runs, whatever thread or job group
    * starts it: a Thrift JDBC statement runs under the server's own
    * group, which [[apply]]'s filter misses. */
  def all[T](spark: SparkSession)(f: => T): (T, Int) =
    counted(spark)(_ => true)(f)

  private def counted[T](spark: SparkSession)(
      counts: SparkListenerJobStart => Boolean)(f: => T): (T, Int) = {
    val sc = spark.sparkContext
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (counts(e)) n.incrementAndGet()
    }
    // events of jobs started before `f` must not reach the listener
    sc.listenerBus.waitUntilEmpty()
    sc.addSparkListener(listener)
    try {
      val r = f
      sc.listenerBus.waitUntilEmpty()
      (r, n.get)
    } finally sc.removeSparkListener(listener)
  }
}
