package graft

import org.apache.spark.sql.functions._

/** The serving daemon end to end: a real Thrift JDBC endpoint in this
  * JVM, queried with the stock Hive JDBC driver — the path a BI tool
  * takes. Covers the last reference serving role (docs/bi.md:5,
  * docs/olap.md:17): SQL over JDBC answered by the engine, dashboard
  * aggregates routed onto the cuboid lattice. */
class ServeSpec extends SparkSuite with org.scalatest.BeforeAndAfterAll {

  private def freePort(): Int = {
    val s = new java.net.ServerSocket(0)
    try s.getLocalPort finally s.close()
  }

  // A daemon mutates session confs on the SHARED suite session
  // (observed: spark.sql.datetime.java8API.enabled flips to true, which
  // makes Row.getDate throw for every later date-typed suite) —
  // snapshot before the first start and restore after the last stop.
  private var confBefore: Option[Map[String, String]] = None
  private def start(port: Int): org.apache.hive.service.server.HiveServer2 = {
    if (confBefore.isEmpty) confBefore = Some(spark.conf.getAll)
    Class.forName("org.apache.hive.jdbc.HiveDriver")
    Serve.start(spark, port, sf)
  }

  // One daemon serves the suite's JDBC tests, started on first use.
  private var server: org.apache.hive.service.server.HiveServer2 = null
  private lazy val url: String = {
    val port = freePort()
    server = start(port)
    s"jdbc:hive2://localhost:$port/default"
  }

  /** A connection to `url`; the server binds asynchronously, so poll. */
  private def connect(url: String): java.sql.Connection = {
    var conn: java.sql.Connection = null
    val deadline = System.nanoTime() + 60L * 1000000000L
    while (conn == null) {
      try conn = java.sql.DriverManager.getConnection(url, "graft", "")
      catch {
        case e: Exception =>
          if (System.nanoTime() > deadline) throw e
          Thread.sleep(500)
      }
    }
    conn
  }

  /** Run `body` with a new connection to the suite's daemon. */
  private def withServe(body: (String, java.sql.Connection) => Unit): Unit = {
    val conn = connect(url)
    try body(url, conn) finally conn.close()
  }

  /** Every row of `rs`, read and dropped. */
  private def drain(rs: java.sql.ResultSet): Unit = while (rs.next()) ()

  override def afterAll(): Unit = try {
    if (server != null) server.stop()
    // the daemon flips state session-wide; restore for other suites
    confBefore.foreach { confBefore =>
      val confAfter = spark.conf.getAll
      (confAfter.keySet ++ confBefore.keySet).foreach { k =>
        (confBefore.get(k), confAfter.get(k)) match {
          case (Some(v0), cur) if !cur.contains(v0) =>
            try spark.conf.set(k, v0)
            catch { case _: Exception => () } // static conf: skip
          case (None, Some(_)) =>
            try spark.conf.unset(k)
            catch { case _: Exception => () }
          case _ => ()
        }
      }
    }
  } finally super.afterAll()

  test("a daemon started again after a stop serves on its new port") {
    def selectOne(port: Int): Unit = {
      val conn = connect(s"jdbc:hive2://localhost:$port/default")
      try {
        val rs = conn.createStatement().executeQuery("SELECT 1")
        assert(rs.next() && rs.getInt(1) == 1)
      } finally conn.close()
    }
    val first = freePort()
    val once = start(first)
    try selectOne(first) finally once.stop()
    val second = Iterator.continually(freePort()).find(_ != first).get
    val again = start(second)
    try {
      selectOne(second)
      def listening(port: Int) =
        scala.util.Try(new java.net.Socket("localhost", port).close()).isSuccess
      val deadline = System.nanoTime() + 10L * 1000000000L
      while (listening(first) && System.nanoTime() < deadline) Thread.sleep(200)
      assert(!listening(first), s"the stopped daemon's port $first still listens")
    } finally again.stop()
  }

  test("JDBC client gets engine answers; dashboard agg routes to the " +
      "lattice-backed result") {
    withServe { (url, conn) =>
      // 1) plain SQL over JDBC == DataFrame API on the same session
      val st = conn.createStatement()
      val rs = st.executeQuery(
        "SELECT l_returnflag, COUNT(*) AS n, " +
          "MIN(l_quantity) AS mn FROM lineitem " +
          "GROUP BY l_returnflag ORDER BY l_returnflag")
      val viaJdbc = Iterator.continually(rs)
        .takeWhile(_.next())
        .map(r => (r.getString(1), r.getLong(2), r.getDouble(3)))
        .toList
      val viaApi = Engine.table(spark, sf, "lineitem")
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), min("l_quantity").as("mn"))
        .orderBy("l_returnflag")
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
        .toList
      assert(viaJdbc == viaApi, s"jdbc $viaJdbc != api $viaApi")
      assert(viaJdbc.nonEmpty)

      // 2) the Kylin move: a fact-table dashboard aggregate served
      // over JDBC matches the raw-fact answer (routing is enabled
      // daemon-wide; CubeSpec pins that this exact shape routes onto
      // the {l_suppkey} cuboid, not the fact)
      val rs2 = st.executeQuery(
        "SELECT l_suppkey, COUNT(*) AS n FROM lineitem " +
          "GROUP BY l_suppkey ORDER BY l_suppkey LIMIT 5")
      val routed = Iterator.continually(rs2).takeWhile(_.next())
        .map(r => (r.getLong(1), r.getLong(2))).toList
      val naive = Engine.table(spark, sf, "lineitem")
        .groupBy("l_suppkey").agg(count(lit(1)).as("n"))
        .orderBy("l_suppkey").limit(5)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toList
      assert(routed == naive, s"routed $routed != naive $naive")
      // 2a) an exact-grain GROUP BY with a dim filter (a projection
      // of the {rf,ls} cuboid) and a coarser GROUP BY (re-aggregated
      // from a cuboid): each equals the same SQL with routing off
      Seq(
        "SELECT l_returnflag, l_linestatus, COUNT(*) AS n, " +
          "SUM(CAST(l_quantity AS DECIMAL(18,2))) AS s_qty, " +
          "MIN(l_quantity) AS mn FROM lineitem " +
          "WHERE l_returnflag = 'R' GROUP BY l_returnflag, " +
          "l_linestatus ORDER BY l_returnflag, l_linestatus",
        "SELECT l_linestatus, COUNT(*) AS n, SUM(CAST(l_extendedprice " +
          "* (1 - l_discount) AS DECIMAL(18,4))) AS s_disc, " +
          "MAX(l_quantity) AS mx FROM lineitem " +
          "GROUP BY l_linestatus ORDER BY l_linestatus").foreach { sql =>
        val (plan, picked) = graft.plans.AggRouting.recording(
          spark.sql(sql).queryExecution.executedPlan.toString)
        assert(picked.nonEmpty && picked.forall(_.summary.contains("cube_")) &&
          !plan.contains("lineitem"),
          s"$sql must route onto a cuboid ($picked):\n$plan")
        // BigDecimal by value: the JDBC and Row decimals may differ
        // in scale only
        def norm(v: Any): Any = v match {
          case b: java.math.BigDecimal => BigDecimal(b)
          case o => o
        }
        val rsR = st.executeQuery(sql)
        val width = rsR.getMetaData.getColumnCount
        val viaJdbcR = Iterator.continually(rsR).takeWhile(_.next())
          .map(r => (1 to width).map(i => norm(r.getObject(i)))).toList
        val unrouted =
          withSQLConf("spark.graft.aggRouting.enabled" -> "false") {
            spark.sql(sql).collect()
              .map(r => (0 until width).map(i => norm(r.get(i)))).toList
          }
        assert(viaJdbcR.nonEmpty && viaJdbcR == unrouted,
          s"$sql: routed $viaJdbcR != unrouted $unrouted")
      }
      // 2b) the vtab SQL surface over JDBC: a BI tool can time-travel
      // and tail CDC with plain SQL — the serve session shares the
      // suite session (singleSession), so the injected resolution
      // rule answers these exactly like the Scala API
      locally {
        import spark.implicits._
        val root = java.nio.file.Files
          .createTempDirectory("graft_vtab_jdbc").toString
        graft.operators.VersionedTable.commit(spark, root,
          Seq((1L, "a")).toDF("id", "s"))
        graft.operators.VersionedTable.commit(spark, root,
          Seq((2L, "b")).toDF("id", "s"))
        val rsT = st.executeQuery(
          s"SELECT id FROM vtab.`$root` VERSION AS OF 1")
        val v1 = Iterator.continually(rsT).takeWhile(_.next())
          .map(_.getLong(1)).toList
        assert(v1 == List(1L), s"vtab over JDBC: $v1")
        val rsC = st.executeQuery(
          s"SELECT id, change FROM vtab_changes.`$root` VERSION AS OF 1")
        val cdc = Iterator.continually(rsC).takeWhile(_.next())
          .map(r => (r.getLong(1), r.getString(2))).toList
        assert(cdc == List((2L, "insert")), s"vtab_changes over JDBC: $cdc")
        // bounded CDC via the table_changes TVF — same from/to
        // contract as changesBetween (exclusive from, inclusive to)
        val rsB = st.executeQuery(
          s"SELECT id, change FROM table_changes('$root', 1, 2)")
        val bounded = Iterator.continually(rsB).takeWhile(_.next())
          .map(r => (r.getLong(1), r.getString(2))).toList
        assert(bounded == List((2L, "insert")),
          s"table_changes over JDBC: $bounded")
        // a SQL-first user can WRITE versions over JDBC too: every
        // routed DML verb commits through the manifest APIs
        st.executeUpdate(s"INSERT INTO vtab.`$root` VALUES (3, 'c')")
        val rsI = st.executeQuery(
          s"SELECT id FROM vtab.`$root` VERSION AS OF 3 ORDER BY id")
        val v3 = Iterator.continually(rsI).takeWhile(_.next())
          .map(_.getLong(1)).toList
        assert(v3 == List(1L, 2L, 3L), s"routed INSERT over JDBC: $v3")
        st.executeUpdate(
          s"UPDATE vtab.`$root` SET s = 'upd' WHERE id = 2")   // v4
        st.executeUpdate(
          s"""MERGE INTO vtab.`$root` t
              USING (SELECT 3 AS id, 'x' AS s
                     UNION ALL SELECT 9, 'new') s
              ON t.id = s.id
              WHEN MATCHED AND s.s = 'x' THEN DELETE
              WHEN MATCHED THEN UPDATE SET *
              WHEN NOT MATCHED THEN INSERT *""")               // v5
        val rsD = st.executeQuery(
          s"SELECT id, s FROM vtab.`$root` ORDER BY id")
        val latest = Iterator.continually(rsD).takeWhile(_.next())
          .map(r => (r.getLong(1), r.getString(2))).toList
        assert(latest == List((1L, "a"), (2L, "upd"), (9L, "new")),
          s"routed UPDATE+MERGE over JDBC: $latest")
        // 2c) by NAME: a dashboard registers once, then every query
        // addresses the table like any catalog table — no temp
        // paths pasted into BI SQL (the reference's bi.md shape)
        st.executeQuery(
          s"SELECT vtab_register('dws_jdbc.inv', '$root')").next()
        val rsN = st.executeQuery(
          "SELECT id FROM dws_jdbc.inv VERSION AS OF 1")
        val n1 = Iterator.continually(rsN).takeWhile(_.next())
          .map(_.getLong(1)).toList
        assert(n1 == List(1L), s"named vtab over JDBC: $n1")
        st.executeUpdate(
          "INSERT INTO dws_jdbc.inv VALUES (11, 'named')")   // v6
        val rsN2 = st.executeQuery(
          "SELECT id, change FROM table_changes('dws_jdbc.inv', 5, 6)")
        val nCdc = Iterator.continually(rsN2).takeWhile(_.next())
          .map(r => (r.getLong(1), r.getString(2))).toList
        assert(nCdc == List((11L, "insert")),
          s"named table_changes over JDBC: $nCdc")
        // DROP over JDBC unregisters; data (all 6 versions) stays
        st.executeUpdate("DROP TABLE dws_jdbc.inv")
        assert(graft.operators.VTabCatalog.resolve("dws_jdbc.inv").isEmpty)
        assert(graft.operators.VersionedTable
          .versions(spark, root).size == 6,
          "DROP by name must not touch the table's versions")
      }

      // 3) concurrent dashboards: N parallel connections, each its
      // own statement, all answered correctly (the daemon's only
      // per-query state is Spark's scheduler — this pins that the
      // shared singleSession state is safe under concurrency)
      val expected = viaApi.map(_._2).sum
      val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
      try {
        val futures = (1 to 8).map { _ =>
          pool.submit(new java.util.concurrent.Callable[Long] {
            def call(): Long = {
              val c = java.sql.DriverManager.getConnection(url, "graft", "")
              try {
                val r = c.createStatement()
                  .executeQuery("SELECT COUNT(*) FROM lineitem")
                r.next(); r.getLong(1)
              } finally c.close()
            }
          })
        }
        futures.foreach(f =>
          assert(f.get(60, java.util.concurrent.TimeUnit.SECONDS)
            == expected))
      } finally pool.shutdownNow()
    }
  }

  private def routed(dims: String, measures: String, where: String) =
    s"SELECT $dims, $measures FROM lineitem $where GROUP BY $dims " +
      s"ORDER BY $dims LIMIT 200"

  /** perfbench's serve_mixed routed statements, one per dimension set. */
  private val routedStatements = Seq(
    routed("l_returnflag", "COUNT(*) AS n, MIN(l_quantity) AS mn",
      "WHERE l_shipdate >= '1994-01-01' AND l_shipdate < '1995-03-01'"),
    routed("l_returnflag, l_linestatus", "COUNT(l_quantity) AS c, " +
      "SUM(CAST(l_quantity AS DECIMAL(18,2))) AS s_qty",
      "WHERE l_returnflag = 'R'"),
    routed("l_suppkey", "SUM(CAST(l_extendedprice * (1 - l_discount) " +
      "AS DECIMAL(18,4))) AS s_disc, MAX(l_quantity) AS mx", ""),
    routed("l_linestatus, l_suppkey", "COUNT(*) AS n, " +
      "MIN(l_quantity) AS mn, MAX(l_quantity) AS mx",
      "WHERE l_shipdate >= '1995-06-01' AND l_shipdate < '1996-06-01'"),
    routed("l_returnflag, l_shipdate", "COUNT(l_quantity) AS c, " +
      "SUM(CAST(l_quantity AS DECIMAL(18,2))) AS s_qty",
      "WHERE l_returnflag = 'A'"),
    routed("l_returnflag, l_linestatus, l_shipdate", "COUNT(*) AS n, " +
      "SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) " +
      "AS s_disc, MAX(l_quantity) AS mx", ""))

  test("after warm-up, each routed statement of the dashboard mix " +
      "schedules no Spark job") {
    withServe { (_, conn) =>
      val st = conn.createStatement()
      routedStatements.foreach(sql => drain(st.executeQuery(sql)))
      routedStatements.foreach { sql =>
        val (_, jobs) = org.apache.spark.graft.JobCount.all(spark)(
          drain(st.executeQuery(sql)))
        assert(jobs == 0, s"$jobs Spark job(s) for $sql")
      }
    }
  }

  test("a dashboard pool sent again compiles no generated code") {
    withServe { (_, conn) =>
      import spark.implicits._
      // a versioned orders table for the lookups: v1 = two thirds of
      // the orders, v2 merges the rest and re-prices every fifth
      val root = tmpDir("graft_serve_pool")
      val orders = Engine.table(spark, sf, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      graft.operators.VersionedTable.commit(spark, root,
        orders.filter($"o_orderkey" % 3 =!= 0))
      graft.operators.VersionedTable.merge(spark, root,
        orders.filter($"o_orderkey" % 3 === 0 || $"o_orderkey" % 5 === 0)
          .withColumn("o_totalprice", $"o_totalprice" * 1.05),
        Seq("o_orderkey"))
      val revenue = "CAST(SUM(CAST(l_extendedprice * (1 - l_discount) " +
        "AS DECIMAL(18,4))) AS DOUBLE)"
      // perfbench's serve_mixed mix: one statement per routed dimension
      // set, ad-hoc join template and lookup kind, classes interleaved
      val Seq(r1, r2, r3, r4, r5, r6) = routedStatements
      val pool = Seq(r1, r2,
        "SELECT c_mktsegment, COUNT(*) AS n, CAST(SUM(CAST(o_totalprice " +
          "AS DECIMAL(18,2))) AS DOUBLE) AS total FROM orders JOIN customer " +
          "ON o_custkey = c_custkey WHERE o_orderdate >= '1995-01-01' AND " +
          "o_orderdate < '1995-06-01' GROUP BY c_mktsegment " +
          "ORDER BY c_mktsegment",
        r3,
        "SELECT o_orderkey, o_orderstatus, o_totalprice FROM " +
          s"vtab.`$root` VERSION AS OF 1 WHERE o_orderkey = 1",
        r4,
        s"SELECT l_orderkey, $revenue AS revenue, o_orderdate FROM customer " +
          "JOIN orders ON c_custkey = o_custkey JOIN lineitem ON " +
          "l_orderkey = o_orderkey WHERE c_mktsegment = 'BUILDING' AND " +
          "o_orderdate < '1995-03-15' AND l_shipdate > '1995-03-15' " +
          "GROUP BY l_orderkey, o_orderdate " +
          "ORDER BY revenue DESC, l_orderkey LIMIT 10",
        r5,
        "SELECT l_suppkey, COUNT(*) AS n FROM lineitem WHERE l_discount " +
          "BETWEEN 0.03 AND 0.05 AND l_quantity < 24 GROUP BY l_suppkey " +
          "ORDER BY n DESC, l_suppkey LIMIT 20",
        s"SELECT change, COUNT(*) AS n FROM table_changes('$root', 1, 2) " +
          "GROUP BY change ORDER BY change",
        r6,
        s"SELECT n_name, $revenue AS revenue FROM lineitem JOIN supplier ON " +
          "l_suppkey = s_suppkey JOIN nation ON s_nationkey = n_nationkey " +
          "WHERE n_regionkey = 2 AND l_shipdate >= '1994-01-01' AND " +
          "l_shipdate < '1995-01-01' GROUP BY n_name " +
          "ORDER BY revenue DESC, n_name")
      val st = conn.createStatement()
      def send(): Unit = pool.foreach(sql => drain(st.executeQuery(sql)))
      def compiles = org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME.getCount
      send() // warm-up: every statement's generated classes
      val warm = compiles
      send(); send()
      // the generated-class cache holds the pool's whole working set
      // (Engine.CodegenCacheEntries); Spark's default of 100 entries
      // does not, and recompiles on every pass
      assert(compiles == warm,
        s"${compiles - warm} Janino compiles in two warm passes")
    }
  }
}
