package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import graft.operators.VersionedTable

/** `serve_mixed`: a closed loop of JDBC clients, no think time, against
  * the serving daemon ([[graft.Serve.start]]) in this process.
  *
  * Set-up starts the daemon over the generated tables (which registers
  * them and builds the cuboid lattice), commits the versioned orders
  * table the `lookup` class reads, opens one connection per client and
  * sends every pooled statement once. The measured phase then runs each
  * client's seeded stream of pool indices until the time is up. Every
  * answer is kept per statement; afterwards each distinct statement's
  * answers must agree with each other and with the same SQL run in
  * process with aggregate routing off.
  */
object ServeMixed {

  private def connect(port: Int): java.sql.Connection = {
    Class.forName("org.apache.hive.jdbc.HiveDriver")
    val url = s"jdbc:hive2://localhost:$port/default"
    val deadline = System.nanoTime() + 120L * 1000000000L
    var conn: java.sql.Connection = null
    while (conn == null) {
      try conn = java.sql.DriverManager.getConnection(url, "perfbench", "")
      catch {
        case e: Exception =>
          if (System.nanoTime() > deadline) throw e
          Thread.sleep(200)
      }
    }
    conn
  }

  /** All rows of `sql` over `conn`, canonicalised and sorted. */
  private def jdbcRows(conn: java.sql.Connection, sql: String): Seq[String] = {
    val st = conn.createStatement()
    try {
      val rs = st.executeQuery(sql)
      val n = rs.getMetaData.getColumnCount
      val out = Seq.newBuilder[String]
      while (rs.next())
        out += (1 to n).map(i => Main.canon(rs.getObject(i))).mkString("|")
      out.result().sorted
    } finally st.close()
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val cfg = ctx.cfg
    val port = cfg.get("port").asInt
    val clients = cfg.get("clients").asInt
    val pool = cfg.get("pool").elements.asScala.toIndexedSeq
      .map(p => (p.get("cls").asText, p.get("sql").asText))
    val streams = cfg.get("streams").elements.asScala.toIndexedSeq
      .map(_.elements.asScala.map(_.asInt).toArray)
    val vtabRoot = ctx.str("vtab_root")
    val versions = ctx.strs("vtab_versions")

    // ---- set-up
    val server = ctx.phase("serve.start")(graft.Serve.start(spark, port, ctx.str("tables")))
    ctx.extra("vtab_versions") = versions.size
    ctx.phase("vtab")(versions.zipWithIndex.foreach { case (v, i) =>
      val df = spark.read.parquet(v)
      if (i == 0) VersionedTable.commit(spark, vtabRoot, df)
      else VersionedTable.merge(spark, vtabRoot, df, Seq("o_orderkey"))
    })
    require(VersionedTable.versions(spark, vtabRoot).size == versions.size)
    val conns = ctx.phase("connect")((0 until clients).map(_ => connect(port)))
    val answers = new ConcurrentHashMap[Int, java.util.Set[Seq[String]]]()
    def record(i: Int, rows: Seq[String]): Unit =
      answers.computeIfAbsent(i, _ => ConcurrentHashMap.newKeySet[Seq[String]]())
        .add(rows)
    // warm-up: every pooled statement once, spread over the clients
    ctx.phase("warm-up")(pool.indices.groupBy(_ % clients).toSeq.map { case (c, idx) =>
      new Thread(() => idx.foreach(i => record(i, jdbcRows(conns(c), pool(i)._2))))
    }.map { t => t.start(); t }.foreach(_.join()))

    // ---- measured phase
    ctx.startMeasuring()
    val threads = (0 until clients).map { c =>
      new Thread(() => {
        val stream = streams(c)
        var k = 0
        while (ctx.elapsedS < ctx.seconds) {
          val i = stream(k % stream.length)
          val (cls, sql) = pool(i)
          ctx.op(cls, i.toString) {
            ctx.tracer.remoteSpan("serve.jdbc")(tag =>
              record(i, jdbcRows(conns(c), sql + tag)))
          }
          k += 1
        }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    ctx.stopMeasuring()

    // ---- output checks, one thread per client's share of the statements
    val sent = ctx.ops.asScala.map(_.name.toInt).toSet
    spark.conf.set("spark.graft.aggRouting.enabled", "false")
    ctx.phase("checks")(ctx.parallel(sent.toSeq.sorted.groupBy(_ % clients).values.toSeq
      .map(idx => () => idx.foreach { i =>
        val (cls, sql) = pool(i)
        val expect = Main.canonRows(spark.sql(sql).collect().toSeq).sorted
        val got = answers.get(i).asScala
        ctx.check(s"statement $i equals in-process answer with routing off",
          got.size == 1 && got.head == expect, sql, op = s"$cls:$i")
      }): _*))
    spark.conf.set("spark.graft.aggRouting.enabled", "true")
    ctx.extra("distinct_statements") = sent.size
    conns.foreach(_.close())
    server.stop()
  }
}
