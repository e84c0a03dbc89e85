package graft

import org.apache.spark.sql.SparkSession

/** The BI serving daemon — the reference's interactive-OLAP serving
  * role (docs/bi.md:5 BI 报表 over the warehouse; docs/olap.md:17
  * Kylin's sub-second serving layer), closed Spark-natively: a
  * long-running SparkSession exposing the warehouse over the standard
  * HiveServer2 Thrift/JDBC protocol (Spark's own distribution of it —
  * `HiveThriftServer2.startWithContext`), so any JDBC/ODBC BI tool
  * (Tableau/Superset/beeline) connects with the stock Hive driver.
  *
  * What makes it the KYLIN serving shape rather than a bare SQL
  * endpoint: the session registers the cuboid lattice and enables
  * [[graft.plans.AggRouteRewrite]], so dashboard aggregates sent over
  * JDBC are rewritten onto the smallest subsuming cuboid — a fact-table
  * GROUP BY serves from a few-thousand-row summary, never rescanning
  * the 100 TB fact. Queries outside the lattice still run (the full
  * engine is behind the endpoint); routed ones are just fast. A
  * cuboid within `spark.sql.autoBroadcastJoinThreshold` has its rows
  * held on the driver when it is registered, so a statement routed
  * onto it is answered there — dim filter, projection or
  * re-aggregation, then its ORDER BY … LIMIT — and schedules no Spark
  * job at all; one onto a larger cuboid runs as one Spark job over the
  * cuboid's files.
  *
  * Scale shape: the daemon holds no per-query state beyond Spark's own
  * session handles; concurrency is Spark's scheduler (FAIR pool
  * recommended for mixed dashboards); the lattice tables live in the
  * warehouse, shared across connections. The daemon keeps the
  * generated classes of its whole statement working set
  * ([[Engine.CodegenCacheEntries]]), so a repeated dashboard statement
  * compiles no code.
  *
  * Usage: runMain graft.Serve [port] [sfDir]   (defaults 10015,
  * /root/testdata/sf0.1) — blocks until killed.
  */
object Serve {

  /** Register the warehouse surface (tables, lattice, routing) on the
    * session and start a Thrift JDBC endpoint on `port`. Returns the
    * server handle (callers stop() it). Factored from main so the
    * end-to-end spec drives the exact production path. */
  def start(spark: SparkSession, port: Int, sfDir: String)
      : org.apache.hive.service.server.HiveServer2 = {
    Engine.configure(spark)
    Engine.registerAll(spark, sfDir)
    // the Kylin move: lattice materialized + routing on for EVERY
    // connection this daemon serves
    CubeQueries.ensureCube(spark, sfDir)
    // the routing rules come with GraftExtensions; the flag turns them on
    spark.conf.set("spark.graft.aggRouting.enabled", "true")
    // the extensions and singleSession (one shared session state, so
    // the routing rules + temp views registered above are visible to
    // every JDBC connection) are STATIC confs — Engine.session sets
    // them at build time; require them here so a mis-built session
    // fails loudly instead of serving connections that can't see the
    // warehouse or route onto it
    require(spark.conf.get("spark.sql.extensions", "")
        .contains("graft.plans.GraftExtensions") && spark.conf.get(
        "spark.sql.hive.thriftServer.singleSession", "false") == "true",
      "Serve needs spark.sql.extensions=graft.plans.GraftExtensions and " +
        "spark.sql.hive.thriftServer.singleSession=true at session " +
        "build time (Engine.session sets both)")
    spark.conf.set("hive.server2.thrift.port", port.toString)
    spark.conf.set("hive.server2.thrift.bind.host", "localhost")
    // the Thrift service takes its port from the Hive session state
    // bound to the calling thread, which an earlier start on the same
    // thread left behind (a restart would listen on the old port): a
    // fresh thread carries none
    var started: Either[Throwable, org.apache.hive.service.server.HiveServer2] = null
    val starter = new Thread(() => started =
      try Right(org.apache.spark.sql.hive.thriftserver.HiveThriftServer2
        .startWithContext(spark.sqlContext))
      catch { case e: Throwable => Left(e) }, "graft-serve-start")
    starter.start()
    starter.join()
    started.fold(e => throw e, identity)
  }

  def main(args: Array[String]): Unit = {
    val port = args.headOption.map(_.toInt).getOrElse(10015)
    val sfDir = args.drop(1).headOption
      .orElse(sys.env.get("SPARK_GRAFT_SF_DIR"))
      .getOrElse("/root/testdata/sf0.1")
    val spark = Engine.session(
      master = s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")}]")
    start(spark, port, sfDir)
    println(s"SERVE ready port=$port sf=$sfDir " +
      "(jdbc:hive2://localhost:" + port + "/)")
    Thread.currentThread.join() // serve until killed
  }
}
