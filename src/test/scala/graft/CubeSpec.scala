package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._
import org.apache.spark.graft.JobCount
import org.apache.spark.sql.execution.{CoalesceExec, FileSourceScanExec,
  QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec,
  ShuffleExchangeExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  AdaptiveSparkPlanHelper}
import org.apache.spark.sql.util.QueryExecutionListener
import graft.operators.Cube
import graft.plans.AggRouting

/** The cube lattice's two contracts: built in one pass (fact scanned
  * once) and routed-to-smallest-cuboid. */
class CubeSpec extends SparkSuite with AdaptiveSparkPlanHelper {

  private lazy val manifest = CubeQueries.ensureCube(spark, sf)

  test("mangle is collision-proof on underscore-ambiguous dim lists") {
    // each pair collided under the old strip-non-alnum mangle
    val ambiguous = Seq(
      Seq("a_b") -> Seq("ab"),
      Seq("x_y", "z") -> Seq("x", "y_z"),
      Seq("x", "y_z") -> Seq("x", "y", "z"),
      Seq("a-b") -> Seq("ab"))
    ambiguous.foreach { case (l, r) =>
      assert(Cube.mangle(l) != Cube.mangle(r),
        s"$l and $r mangle to the same name ${Cube.mangle(l)}")
    }
    // output stays a plain identifier (table-name and path safe)
    ambiguous.flatMap(p => Seq(p._1, p._2)).foreach { dims =>
      assert(Cube.mangle(dims).matches("[A-Za-z0-9_]+"), Cube.mangle(dims))
    }
  }

  test("build rejects duplicate cuboid dim lists instead of overwriting") {
    val fact = Engine.table(spark, sf, "lineitem").limit(10)
    val ex = intercept[IllegalArgumentException] {
      Cube.build(fact, Seq(Cube.MeasureDef("n", Cube.MCountAll)),
        Seq(Seq("l_returnflag"), Seq("l_returnflag")), "dws.cube_dup_t_",
        register = false)
    }
    assert(ex.getMessage.contains("duplicate cuboid"))
  }

  test("build refuses a non-reducing base grain (reduction contract)") {
    // adversarial shape from the 300x probe: a near-row-unique base
    // dim tuple makes every summary fact-sized and maintenance
    // rebuild-equivalent (measured exponent 0.93) — the guard must
    // refuse before materializing anything
    val fact = spark.range(Cube.BaseRatioGuardMinRows + 1).select(
      col("id").as("k"), (col("id") % 97).as("d"),
      lit(1L).as("v"))
    val m = Seq(Cube.MeasureDef("n", Cube.MCountAll))
    val ex = intercept[IllegalArgumentException] {
      Cube.build(fact, m, Seq(Seq("k", "d"), Seq("d")),
        "cube_guard_t_", register = false)
    }
    assert(ex.getMessage.contains("would not reduce the fact"),
      ex.getMessage)
    // tiny fixtures skip the guard even with row-unique dims — the
    // contract polices 100 TB mistakes, not unit-test facts
    val tiny = spark.range(1000).select(col("id").as("k"), lit(1L).as("v"))
    val built = Cube.build(tiny, m, Seq(Seq("k")),
      "cube_guard_tiny_t_", register = false)
    assert(built.nonEmpty && built.head.rows == 1000)
  }

  test("reduction guard sketches the union grain: two same-length " +
      "disjoint cuboids where only the union is non-reducing") {
    // each single-dim cuboid reduces fine on its own (~1k groups over
    // 1M rows), but their UNION grain (a, b) is row-unique — both are
    // fact-scanning bases, so the lattice as requested would still
    // materialize fact-sized work. The earlier maxBy(_.length) guard
    // sketched one arbitrary winner and let this shape through.
    val n = graft.operators.Cube.BaseRatioGuardMinRows + 1
    val fact = spark.range(n).select(
      (col("id") % 1024).as("a"), (col("id") / 1024).as("b"),
      lit(1L).as("v"))
    val m = Seq(Cube.MeasureDef("n", Cube.MCountAll))
    val ex = intercept[IllegalArgumentException] {
      Cube.build(fact, m, Seq(Seq("a"), Seq("b")),
        "cube_guard_union_t_", register = false)
    }
    assert(ex.getMessage.contains("union of all requested cuboid dims"),
      ex.getMessage)
    // the same disjoint pair over a REDUCING union grain still builds
    val ok = spark.range(n).select(
      (col("id") % 64).as("a"), (col("id") % 97).as("b"),
      lit(1L).as("v"))
    val built = Cube.build(ok, m, Seq(Seq("a"), Seq("b")),
      "cube_guard_union_ok_t_", register = false)
    assert(built.size == 2)
  }

  test("only the base cuboid reads the fact; parents shrink monotonically") {
    val base = manifest.head
    assert(base.parentDims.isEmpty, "widest cuboid must scan the fact")
    manifest.tail.foreach { b =>
      assert(b.parentDims.nonEmpty,
        s"cuboid ${b.dims} re-scanned the fact")
      val parent = manifest.find(_.dims == b.parentDims.get).get
      assert(b.dims.forall(parent.dims.contains))
      assert(parent.rows >= b.rows,
        s"parent ${parent.dims} (${parent.rows}) smaller than child " +
          s"${b.dims} (${b.rows})")
    }
  }

  test("selectCuboids: HRU greedy under a row budget — base always in, " +
      "budget respected, the highest-benefit candidate picked first") {
    import spark.implicits._
    // controlled cardinalities: a∈{0,1}, b∈{0..9}, c∈{0..99}; 2000 rows
    val fact = spark.range(2000).select(
      (col("id") % 2).as("a"), (col("id") % 10).as("b"),
      (col("id") % 100).as("c")).toDF()
    val base = Seq("a", "b", "c") // ~200 distinct (a,b,c) combos (c determines b? no: 2000 rows, (a,b,c) has lcm structure)
    val cands = Seq(Seq("a", "b"), Seq("b", "c"), Seq("a"), Seq("b"), Seq("c"))
    // generous budget: everything helpful fits
    val allIn = Cube.selectCuboids(fact, base, cands, maxRows = 1000000L)
    assert(allIn.head.dims == base, "base cuboid must be selected first")
    assert(allIn.map(_.rows).sum <= 1000000L)
    // every candidate that strictly improves over the base should be in
    assert(allIn.map(_.dims).toSet.size == allIn.size)
    // tight budget: base (~200) + room for ~one small cuboid. The
    // greedy must pick a candidate whose TOTAL benefit over remaining
    // queries is maximal, and never overshoot the budget.
    val baseRows = allIn.find(_.dims == base).get.rows
    val tight = Cube.selectCuboids(fact, base, cands,
      maxRows = baseRows + 25)
    assert(tight.head.dims == base)
    assert(tight.map(_.rows).sum <= baseRows + 25,
      s"budget overshoot: $tight")
    // with ≤25 rows of headroom only {a} (2 rows) and {b} (10 rows)
    // and {a,b} (20 rows) fit individually; {a,b} answers three of the
    // five candidate grains ({a,b},{a},{b}) at ≤20 rows — the greedy's
    // first pick must be {a,b}, the max-benefit choice.
    assert(tight.map(_.dims).contains(Seq("a", "b")),
      s"expected the max-benefit {a,b} cuboid, got: ${tight.map(_.dims)}")
    // base alone over budget fails loudly
    val ex = intercept[IllegalArgumentException] {
      Cube.selectCuboids(fact, base, cands, maxRows = 1L)
    }
    assert(ex.getMessage.contains("exceeds the budget"))
    // order-permuted duplicates are ONE candidate: (a,b) and (b,a) must
    // not both be selected (identical cuboids double-charging the budget)
    val permuted = Cube.selectCuboids(fact, base,
      Seq(Seq("a", "b"), Seq("b", "a"), Seq("c")), maxRows = 1000000L)
    assert(permuted.map(_.dims.sorted).distinct.size == permuted.size,
      s"permuted duplicate selected twice: ${permuted.map(_.dims)}")
  }

  test("buildBudgeted: routing still answers every candidate grain, " +
      "results equal the naive fact aggregate") {
    val fact = Engine.table(spark, sf, "lineitem")
    val measures = Seq(Cube.MeasureDef("n", Cube.MCountAll),
      Cube.MeasureDef("s_qty", Cube.MSum,
        col("l_quantity").cast("decimal(18,2)")))
    val base = Seq("l_returnflag", "l_linestatus", "l_suppkey")
    val cands = Seq(Seq("l_returnflag", "l_linestatus"),
      Seq("l_suppkey"), Seq("l_returnflag"))
    // budget chosen so SOME but not necessarily all candidates fit:
    // 2x the base estimate leaves room for the small dim cuboids
    val est = fact.agg(approx_count_distinct(
      struct(base.map(col): _*))).head().getLong(0)
    val built = Cube.buildBudgeted(fact, measures, base, cands,
      maxRows = est * 2, tablePrefix = "dws.cube_bgt_t_")
    assert(built.head.dims == base)
    // a grain NOT materialized still answers through an ancestor:
    // compare the routed result for every candidate grain to the
    // naive aggregate
    cands.foreach { dims =>
      val routed = ExtQueries.withAggRouting(spark) {
        fact.groupBy(dims.map(col): _*)
          .agg(count(lit(1)).as("n"))
          .orderBy(dims.map(col): _*)
      }.collect().toSeq
      val naive = fact.groupBy(dims.map(col): _*)
        .agg(count(lit(1)).as("n"))
        .orderBy(dims.map(col): _*).collect().toSeq
      assert(routed == naive, s"grain $dims diverged under routing")
    }
  }

  /** A fresh build of CubeQueries' 7-cuboid lattice: the manifest,
    * the jobs it scheduled, and the query executions of its writes. */
  private lazy val onePass = {
    spark.sql("CREATE DATABASE IF NOT EXISTS dws")
    val fact = Engine.table(spark, sf, "lineitem")
    val writes = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (find(qe.executedPlan)(_.isInstanceOf[DataWritingCommandExec])
            .isDefined) writes.add(qe)
      override def onFailure(f: String, qe: QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val (built, jobs) = JobCount(spark)(Cube.build(fact,
        CubeQueries.measures, CubeQueries.lattice, "dws.cube_onepass_t_",
        register = false))
      (built, jobs, writes.asScala.toSeq)
    } finally spark.listenerManager.unregister(listener)
  }

  test("one pass: every coarser cuboid re-aggregates the base grain, " +
      "and the write reads the fact through one exchange, reused") {
    val (built, _, writes) = onePass
    val base = built.head
    assert(base.parentDims.isEmpty)
    built.tail.foreach(b => assert(b.parentDims.contains(base.dims), b))
    assert(writes.size == 1, s"expected one write, got ${writes.size}")
    val plan = writes.head.executedPlan
    def readsFact(p: SparkPlan) = collect(p) { case s: FileSourceScanExec =>
      s.relation.location.rootPaths }.flatten
      .exists(_.toString.contains("lineitem"))
    assert(collect(plan) { case s: FileSourceScanExec => s }.size == 1,
      s"the fact must be scanned once:\n$plan")
    assert(collect(plan) {
      case e: ShuffleExchangeExec if readsFact(e) => e }.size == 1,
      s"expected one exchange over the fact:\n$plan")
    val reused = collect(plan) { case r: ReusedExchangeExec => r }
    assert(reused.size == 1 && readsFact(reused.head.child),
      s"the other branch must reuse the fact exchange:\n$plan")
  }

  test("the 7-cuboid lattice builds in at most 5 jobs, each cuboid " +
      "equal to a direct aggregate of the fact") {
    val (built, jobs, _) = onePass
    assert(jobs <= 5, s"lattice build scheduled $jobs jobs")
    assert(built.map(_.dims).toSet == CubeQueries.lattice.toSet)
    assertLatticeIsGroupBy(Engine.table(spark, sf, "lineitem"),
      CubeQueries.measures, built)
  }

  test("below the base-ratio guard's floor a plain parquet fact skips " +
      "the guard: the 7-cuboid lattice builds in 3 jobs") {
    val (_, jobs, _) = onePass
    assert(jobs == 3, s"lattice build scheduled $jobs jobs")
  }

  test("a parquet fact above the guard's floor still runs the guard " +
      "and is refused when its base grain does not reduce it") {
    val path = tmpDir("cube_guard_parquet") + "/fact"
    spark.range(Cube.BaseRatioGuardMinRows + 1).select(
      col("id").as("k"), (col("id") % 97).as("d"), lit(1L).as("v"))
      .write.parquet(path)
    val ex = intercept[IllegalArgumentException] {
      Cube.build(spark.read.parquet(path),
        Seq(Cube.MeasureDef("n", Cube.MCountAll)),
        Seq(Seq("k", "d"), Seq("d")), "cube_guard_pq_t_", register = false)
    }
    assert(ex.getMessage.contains("would not reduce the fact"),
      ex.getMessage)
  }

  test("maintained cuboids keep the built measure types: a decimal(18,2) " +
      "sum is not widened by derivation") {
    val fact = Engine.table(spark, sf, "lineitem")
    val cutoff = lit("1996-01-01").cast("timestamp_ntz")
    val baseDims = Seq("l_returnflag", "l_linestatus", "l_suppkey")
    val children = Seq(Seq("l_returnflag", "l_linestatus"),
      Seq("l_returnflag"))
    val ms = Seq(Cube.MeasureDef("n", Cube.MCountAll),
      Cube.MeasureDef("s_qty", Cube.MSum,
        col("l_quantity").cast("decimal(18,2)")))
    val built = Cube.build(fact, ms, baseDims +: children,
      "cube_types_t_", register = false)
    val oldBase = fact.filter(col("l_shipdate") < cutoff)
      .groupBy(baseDims.map(col): _*).agg(ms.head.base, ms.tail.map(_.base): _*)
    val maintained = Cube.maintainLattice(baseDims, oldBase,
      fact.filter(col("l_shipdate") >= cutoff), ms, children)
    built.foreach { b =>
      val want = spark.table(b.table)
      def types(df: DataFrame) = df.schema.map(f => f.name -> f.dataType)
      assert(types(maintained(b.dims)) == types(want),
        s"${b.dims}: ${maintained(b.dims).schema} vs ${want.schema}")
      assertSameRows(maintained(b.dims), want)
    }
  }

  /** Each built cuboid's table holds exactly `fact.groupBy(dims)`
    * with the cuboid's measure types, and its manifest row count. */
  private def assertLatticeIsGroupBy(fact: DataFrame,
      ms: Seq[Cube.MeasureDef], built: Seq[Cube.Built]): Unit =
    built.foreach { b =>
      val got = spark.table(b.table)
      val want = fact.groupBy(b.dims.map(col): _*)
        .agg(ms.head.base, ms.tail.map(_.base): _*)
        .select(got.columns.map(c =>
          col(c).cast(got.schema(c).dataType).as(c)).toSeq: _*)
      assertSameRows(got, want)
      assert(b.rows == want.count(), s"${b.dims}: rows ${b.rows}")
    }

  private val hostileMeasures = Seq(
    Cube.MeasureDef("n", Cube.MCountAll),
    Cube.MeasureDef("cnt_v", Cube.MCountCol, col("v")),
    Cube.MeasureDef("s_v", Cube.MSum, col("v")),
    Cube.MeasureDef("mn_v", Cube.MMin, col("v")),
    Cube.MeasureDef("mx_v", Cube.MMax, col("v")))

  private def hostileFact(rows: Seq[(Option[String], Option[Int], Option[Long])],
      names: (String, String) = ("a", "b")): DataFrame = {
    import spark.implicits._
    rows.toDF(names._1, names._2, "v")
  }

  test("hostile lattice: an empty fact builds every cuboid, empty") {
    val fact = hostileFact(Nil)
    val built = Cube.build(fact, hostileMeasures,
      Seq(Seq("a", "b"), Seq("a"), Seq("b")), "cube_empty_t_",
      register = false)
    assert(built.size == 3)
    built.foreach { b =>
      assert(spark.catalog.tableExists(b.table), b.table)
      assert(spark.table(b.table).count() == 0 && b.rows == 0, b)
    }
    assertLatticeIsGroupBy(fact, hostileMeasures, built)
  }

  test("hostile lattice: real null groups stay apart from the nulls " +
      "of rolled-up dims") {
    val fact = hostileFact(Seq(
      (None, Some(1), Some(10L)), (Some("x"), None, Some(20L)),
      (None, None, None), (None, None, Some(5L)),
      (Some("x"), Some(1), Some(1L)), (Some("y"), Some(2), Some(2L))))
    val built = Cube.build(fact, hostileMeasures,
      Seq(Seq("a", "b"), Seq("a"), Seq("b")), "cube_nulls_t_",
      register = false)
    assertLatticeIsGroupBy(fact, hostileMeasures, built)
    // {a}: the a = null group holds exactly the three null-a rows
    val a = built.find(_.dims == Seq("a")).get
    assert(spark.table(a.table).filter(col("a").isNull)
      .select("n").head().getLong(0) == 3L)
  }

  test("hostile lattice: a fact column named like the grouping-id " +
      "working column keeps its values") {
    val fact = hostileFact(Seq(
      (Some("p"), Some(7), Some(1L)), (Some("q"), Some(7), Some(2L)),
      (Some("p"), Some(8), Some(3L)), (None, Some(9), Some(4L))),
      names = ("__gid", "__gid_b"))
    val cuboids = Seq(Seq("__gid", "__gid_b"), Seq("__gid"), Seq("__gid_b"))
    val built = Cube.build(fact, hostileMeasures, cuboids,
      "cube_gidname_t_", register = false)
    assert(built.map(_.dims).toSet == cuboids.toSet)
    assertLatticeIsGroupBy(fact, hostileMeasures, built)
  }

  test("hostile lattice: a requested set missing the base grain still " +
      "builds every cuboid from one aggregate") {
    val fact = hostileFact(Seq(
      (Some("p"), Some(1), Some(1L)), (Some("q"), Some(2), Some(2L)),
      (None, Some(1), Some(3L))))
    val built = Cube.build(fact, hostileMeasures,
      Seq(Seq("a"), Seq("b")), "cube_nobase_t_", register = false)
    built.foreach(b => assert(b.parentDims.contains(Seq("a", "b")), b))
    assertLatticeIsGroupBy(fact, hostileMeasures, built)
  }

  test("measure types are identical across every cuboid") {
    val schemas = manifest.map(b => spark.table(b.table).schema
      .filter(f => Set("n", "cnt_qty", "s_qty", "s_disc", "mn_qty",
        "mx_qty").contains(f.name))
      .map(f => f.name -> f.dataType).toMap)
    assert(schemas.distinct.size == 1,
      s"cuboid measure types diverge: ${schemas.distinct}")
  }

  /** Physical nodes of a not-yet-run plan, AQE wrapper removed. */
  private def physical(df: DataFrame) =
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }

  private def scanPaths(df: DataFrame) =
    physical(df).collect { case s: FileSourceScanExec =>
      s.relation.location.rootPaths.map(_.toString) }.flatten

  /** `df`, planned, with the routing decisions its planning records
    * on this thread. */
  private def routedDf(df: => DataFrame): (DataFrame, Seq[AggRouting.Decision]) =
    AggRouting.recording {
      val d = df
      d.queryExecution.optimizedPlan
      d
    }

  private def decisions(df: => DataFrame) = routedDf(df)._2

  test("q_cube_route scans the smallest subsuming cuboid, not the fact") {
    val suf = sf.replaceAll("[^A-Za-z0-9]", "_")
    val picked = decisions(CubeQueries.q_cube_route.run(spark, sf))
    val want = s"cube_${suf}_" + graft.operators.Cube.mangle(Seq("l_suppkey"))
    assert(picked.nonEmpty && picked.forall(_.summary.endsWith(want)),
      s"expected the {l_suppkey} cuboid ($want), got $picked")
  }

  test("routing and the decimal-sum kernel COEXIST in one plan: the " +
      "routed query scans the cuboid AND re-aggregates via decimal_sum") {
    // pins the optimizer-batch ordering contract (AggRouteRewrite
    // before DecimalSum128Rewrite in the same fixed-point batch): if a
    // future rule reorders them — or delays the Aggregate's final
    // shape to a later iteration, where the 128-bit rewrite has
    // already replaced builtin Sum and routing's canonicals can no
    // longer semanticEquals — one of the two features silently drops.
    // The routed re-aggregation sums the cuboid's DECIMAL(28,2)
    // measure, so the eligible plan carries the 192-bit kernel. The
    // query groups coarser than its cuboid ({rf,ls}): an exact-grain
    // query has no re-aggregation, hence no kernel. A held cuboid is
    // re-aggregated on the driver, before the kernel rewrite sees any
    // plan; at threshold -1 nothing is held and the plan is the
    // distributed re-aggregation the kernel must reach.
    manifest
    withSQLConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val df = linestatusQuery
      val planStr = df.queryExecution.executedPlan.toString
      val paths = scanPaths(df)
      assert(paths.nonEmpty && paths.forall(_.contains("cube_")),
        s"routed summary scan missing: $paths")
      assert(planStr.contains("decimal_sum192") ||
        planStr.contains("decimal_sum128"),
        s"decimal-sum kernel missing from the routed plan:\n$planStr")
    }
  }

  private def exchanges(df: DataFrame) =
    physical(df).collect { case e: ShuffleExchangeExec => e }.length

  /** Coarser than every cuboid holding l_linestatus: re-aggregates. */
  private def linestatusQuery = ExtQueries.withAggRouting(spark) {
    Engine.table(spark, sf, "lineitem")
      .groupBy("l_linestatus")
      .agg(count(lit(1)).as("n"),
        graft.functions.dsum2(col("l_quantity")).as("sum_qty"))
  }

  test("exact-grain routing plans no aggregate and no exchange") {
    manifest
    def df = ExtQueries.withAggRouting(spark) {
      Engine.table(spark, sf, "lineitem")
        .groupBy("l_suppkey")
        .agg(count(lit(1)).as("n"),
          graft.functions.dsum2(col("l_quantity")).as("sum_qty"),
          min(col("l_quantity")).as("min_qty"))
    }
    // the held cuboid answers on the driver; at threshold -1 nothing is
    // held and the plan is a projection of the cuboid scan
    assert(decisions(df).map(_.shape) == Seq(AggRouting.Held))
    withSQLConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val (scan, picked) = routedDf(df)
      assert(picked.map(_.shape) == Seq(AggRouting.ExactScan))
      val plan = physical(scan)
      assert(plan.collect { case a: BaseAggregateExec => a }.isEmpty,
        s"exact-grain route must not re-aggregate:\n$plan")
      assert(exchanges(scan) == 0, s"exact-grain route shuffled:\n$plan")
      val paths = scanPaths(scan)
      assert(paths.nonEmpty && paths.forall(_.contains("cube_")), paths)
    }
  }

  test("coarser routing over a small cuboid re-aggregates in one task") {
    manifest
    // the lattice's cuboids are held: re-aggregated on the driver
    assert(decisions(linestatusQuery).map(_.shape) == Seq(AggRouting.Held))
    // a partitioned summary is never held: under the threshold it
    // re-aggregates in one task over Coalesce 1
    val fact = tmpDir("graft_coalesced_fact")
    val summary = tmpDir("graft_coalesced_summary")
    Engine.table(spark, sf, "lineitem").write.mode("overwrite").parquet(fact)
    val lineitem = spark.read.parquet(fact)
    lineitem.groupBy("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"))
      .write.mode("overwrite").partitionBy("l_returnflag").parquet(summary)
    AggRouting.register(lineitem, spark.read.parquet(summary),
      Seq("l_returnflag", "l_linestatus"), Map(count(lit(1)) -> "n"))
    val (df, picked) = routedDf(ExtQueries.withAggRouting(spark) {
      lineitem.groupBy("l_linestatus").agg(count(lit(1)).as("n"))
    })
    assert(picked.map(_.shape) == Seq(AggRouting.Coalesced))
    val plan = physical(df)
    assert(plan.collect { case c: CoalesceExec if c.numPartitions == 1 =>
      c }.length == 1, s"expected one Coalesce 1:\n$plan")
    assert(exchanges(df) == 0, s"small-cuboid route shuffled:\n$plan")
  }

  test("with the broadcast threshold at -1 the re-aggregation stays " +
      "distributed and returns the same rows") {
    manifest
    def rows(df: DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    val single = rows(linestatusQuery)
    withSQLConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val df = linestatusQuery
      val plan = physical(df)
      assert(exchanges(df) == 1, s"expected one exchange:\n$plan")
      assert(plan.collect { case c: CoalesceExec => c }.isEmpty,
        plan.toString)
      assert(scanPaths(df).forall(_.contains("cube_")), plan.toString)
      assert(rows(df) == single)
    }
  }

  test("q_cube_budget routes onto the budget-selected lattice: zero " +
      "fact scans") {
    val (df, picked) = routedDf(CubeQueries.q_cube_budget.run(spark, sf))
    val paths = scanPaths(df)
    assert(picked.nonEmpty)
    // when the full-lattice suite has ALSO registered its cuboids in
    // this session, routing may legitimately pick an equally small one
    // of those — the query's contract is zero FACT scans, not which
    // registered lattice answered
    assert(paths.forall(p => !p.contains("lineitem")),
      s"expected only cuboid scans (no fact), got $paths")
    assert(picked.forall(d => d.summary.contains("cubebgt_") ||
        d.summary.contains("cube_")),
      s"expected cuboid tables only, got $picked")
  }

  test("grouping subsumed by two cuboids picks the fewer-row one") {
    // group by (rf, ls): subsumed by base, {rf,ls,sd} and {rf,ls};
    // the 6-row {rf,ls} cuboid must win
    manifest // force build+registration
    val picked = decisions(ExtQueries.withAggRouting(spark) {
      Engine.table(spark, sf, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"))
    })
    val suf = sf.replaceAll("[^A-Za-z0-9]", "_")
    val want = s"cube_${suf}_" +
      graft.operators.Cube.mangle(Seq("l_returnflag", "l_linestatus"))
    assert(picked.nonEmpty && picked.forall(_.summary.endsWith(want)),
      s"expected the 6-row {rf,ls} cuboid ($want), got $picked")
  }

  test("route answers equal the naive fact aggregate exactly") {
    val routed = CubeQueries.q_cube_route.run(spark, sf)
    val naive = Engine.table(spark, sf, "lineitem")
      .groupBy("l_suppkey")
      .agg(count(lit(1)).as("n"),
        graft.functions.dsum2(col("l_quantity")).as("sum_qty"),
        min(col("l_quantity")).as("min_qty"),
        max(col("l_quantity")).as("max_qty"))
      .orderBy("l_suppkey")
    assertSameRows(routed, naive)
  }

  test("a rebuild at the same prefix over changed data replaces the " +
      "old routes: the routed answer equals the fact aggregate") {
    spark.sql("CREATE DATABASE IF NOT EXISTS dws")
    val dir = tmpDir("graft_rebuilt_fact")
    val ms = Seq(Cube.MeasureDef("n", Cube.MCountAll),
      Cube.MeasureDef("mx", Cube.MMax, col("l_quantity")))
    val lineitem = Engine.table(spark, sf, "lineitem")
      .select("l_returnflag", "l_linestatus", "l_quantity")
    def build(rows: DataFrame) = {
      rows.write.mode("overwrite").parquet(dir)
      Cube.build(spark.read.parquet(dir), ms,
        Seq(Seq("l_returnflag", "l_linestatus"), Seq("l_returnflag")),
        "dws.rebuilt_")
    }
    build(lineitem.filter(col("l_returnflag") === "R"))
    build(lineitem)
    val fact = spark.read.parquet(dir)
    def q = fact.groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"), max(col("l_quantity")).as("mx"))
    val naive = q
    val (routed, picked) = routedDf(ExtQueries.withAggRouting(spark)(q))
    assert(picked.map(_.summary).forall(_.contains("rebuilt_")) &&
      picked.nonEmpty, picked)
    assert(AggRouting.all.count(_.summary.contains("rebuilt_")) == 2,
      AggRouting.all.map(_.summary))
    assertSameRows(routed, naive)
  }

  /** A routed answer from held rows equals the same query's answer at
    * threshold -1, where nothing is held: rows compared by their first
    * `keys` columns, values by Row equality (NaN == NaN, -0.0 == 0.0). */
  private def heldEqualsDistributed(keys: Int)(q: => DataFrame): Unit = {
    def run() = AggRouting.recording {
      ExtQueries.withAggRouting(spark)(q).collect().toSeq
        .sortBy(_.toSeq.take(keys).mkString("|"))
    }
    val (held, h) = run()
    val (dist, d) =
      withSQLConf("spark.sql.autoBroadcastJoinThreshold" -> "-1")(run())
    assert(h.nonEmpty && h.forall(_.shape == AggRouting.Held), h)
    assert(d.nonEmpty && d.forall(_.shape != AggRouting.Held), d)
    assert(held == dist, s"held $held != distributed $dist")
  }

  test("held rows answer like the distributed path: null dim groups, " +
      "NaN and -0.0 under min/max, bitmap COUNT(DISTINCT) at a coarser " +
      "grain, HAVING, a dim filter meeting NULL, an empty cuboid") {
    import spark.implicits._
    spark.sql("CREATE DATABASE IF NOT EXISTS dws")
    val nan = Double.NaN
    val rows = Seq[(String, String, Long, Double)](
      ("a", "p", 1L, 1.0), ("a", "q", 2L, nan), ("a", null, 3L, -0.0),
      (null, "p", 3L, -0.0), (null, "q", 4L, 0.0), (null, null, 4L, nan),
      ("b", "p", 1L, 2.5), ("b", null, 5L, 0.0), ("b", "q", 6L, -1.5))
    val ms = Seq(Cube.MeasureDef("n", Cube.MCountAll),
      Cube.MeasureDef("mn", Cube.MMin, col("v")),
      Cube.MeasureDef("mx", Cube.MMax, col("v")),
      Cube.MeasureDef("bm", Cube.MBitmap, col("id")))
    def cube(name: String, data: Seq[(String, String, Long, Double)]) = {
      val dir = tmpDir(s"graft_held_$name")
      data.toDF("g", "h", "id", "v").write.mode("overwrite").parquet(dir)
      val fact = spark.read.parquet(dir)
      Cube.build(fact, ms, Seq(Seq("g", "h"), Seq("g")), s"dws.held_${name}_")
      fact
    }
    val fact = cube("full", rows)
    val empty = cube("empty", Nil)
    def measures(df: org.apache.spark.sql.RelationalGroupedDataset) =
      df.agg(count(lit(1)).as("n"), min(col("v")).as("mn"),
        max(col("v")).as("mx"), countDistinct(col("id")).as("u"))
    Seq(fact, empty).foreach { f =>
      // coarser than {g,h}: re-aggregated, with null h groups
      heldEqualsDistributed(1)(measures(f.groupBy("h")))
      // exact grain of {g,h} and of {g}
      heldEqualsDistributed(2)(measures(f.groupBy("g", "h")))
      heldEqualsDistributed(1)(measures(f.groupBy("g")))
      // a dim filter that meets NULL drops the null rows
      heldEqualsDistributed(1)(measures(f.filter(col("g") =!= "a").groupBy("h")))
      heldEqualsDistributed(2)(measures(f.filter(col("h") === "p").groupBy("g", "h")))
    }
    fact.createOrReplaceTempView("held_full_fact")
    heldEqualsDistributed(1)(spark.sql(
      "SELECT h, COUNT(*) AS n, MIN(v) AS mn FROM held_full_fact " +
        "GROUP BY h HAVING COUNT(*) > 2 AND MAX(v) > 0"))
    heldEqualsDistributed(1)(spark.sql(
      "SELECT h, COUNT(DISTINCT id) AS u FROM held_full_fact " +
        "WHERE g IS NOT NULL GROUP BY h ORDER BY h LIMIT 2"))
    // a dim filter holding a subquery cannot run on the driver: the
    // held cuboid is answered by a file-scan shape instead
    val sub = "SELECT h, COUNT(*) AS n FROM held_full_fact " +
      "WHERE g = (SELECT MIN(g) FROM held_full_fact) GROUP BY h"
    val (subRows, subPicked) = AggRouting.recording {
      ExtQueries.withAggRouting(spark)(spark.sql(sub)).collect().toSeq
    }
    assert(subPicked.nonEmpty && subPicked.forall(_.shape != AggRouting.Held),
      subPicked)
    assert(subRows.sortBy(_.toString) ==
      spark.sql(sub).collect().toSeq.sortBy(_.toString))
  }

  test("maintained lattice equals rebuilt lattice for every cuboid") {
    val fact = Engine.table(spark, sf, "lineitem")
    val cutoff = lit("1996-01-01").cast("timestamp_ntz")
    val baseDims = Seq("l_returnflag", "l_linestatus", "l_shipdate",
      "l_suppkey")
    val ms = Seq(
      Cube.MeasureDef("n", Cube.MCountAll),
      Cube.MeasureDef("s_qty", Cube.MSum,
        graft.functions.dec2(col("l_quantity"))),
      Cube.MeasureDef("mn_qty", Cube.MMin, col("l_quantity")),
      Cube.MeasureDef("mx_qty", Cube.MMax, col("l_quantity")))
    val baseAggs = ms.map(_.base)
    val oldBase = fact.filter(col("l_shipdate") < cutoff)
      .groupBy(baseDims.map(col): _*).agg(baseAggs.head, baseAggs.tail: _*)
    val delta = fact.filter(col("l_shipdate") >= cutoff)
    val children = Seq(Seq("l_returnflag", "l_linestatus"),
      Seq("l_suppkey"))
    val maintained = Cube.maintainLattice(baseDims, oldBase, delta, ms,
      children)
    (children :+ baseDims).foreach { dims =>
      val rebuilt = fact.groupBy(dims.map(col): _*)
        .agg(baseAggs.head, baseAggs.tail: _*)
        .select(maintained(dims).columns.map(c =>
          col(c).cast(maintained(dims).schema(c).dataType)): _*)
      assertSameRows(maintained(dims), rebuilt)
    }
  }

  test("HLL sketch measure: estimates survive lattice derivation and " +
      "maintenance unchanged") {
    val fact = Engine.table(spark, sf, "lineitem")
    val baseDims = Seq("l_returnflag", "l_linestatus")
    val ms = Seq(
      Cube.MeasureDef("n", Cube.MCountAll),
      Cube.MeasureDef("hll_supp", Cube.MHllSketch, col("l_suppkey")))
    val baseAggs = ms.map(_.base)
    val base = fact.groupBy(baseDims.map(col): _*)
      .agg(baseAggs.head, baseAggs.tail: _*)
    // derive {rf} from the base by sketch union; compare estimates to
    // a sketch built directly from the fact at {rf} grain
    def est(df: org.apache.spark.sql.DataFrame) = df
      .select(col("l_returnflag"),
        hll_sketch_estimate(col("hll_supp")).as("u"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val derived = est(Cube.derive(base, Seq("l_returnflag"), ms))
    val direct = est(fact.groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        hll_sketch_agg(col("l_suppkey")).as("hll_supp")))
    assert(derived == direct,
      s"union-derived sketch estimates drifted: $derived vs $direct")
    // maintenance: delta fold-in then re-derivation gives the same
    // estimates as a full rebuild
    val cutoff = lit("1996-01-01").cast("timestamp_ntz")
    val oldBase = fact.filter(col("l_shipdate") < cutoff)
      .groupBy(baseDims.map(col): _*).agg(baseAggs.head, baseAggs.tail: _*)
    val delta = fact.filter(col("l_shipdate") >= cutoff)
    val maintained = Cube.maintainLattice(baseDims, oldBase, delta, ms,
      Seq(Seq("l_returnflag")))
    assert(est(maintained(Seq("l_returnflag"))) == direct)
  }

  test("q_cube_rollup: every grouping set answered from a cuboid, " +
      "zero fact scans") {
    val (df, picked) = routedDf(CubeQueries.q_cube_rollup.run(spark, sf))
    val plan = df.queryExecution.executedPlan.toString
    val suf = sf.replaceAll("[^A-Za-z0-9]", "_")
    assert(!plan.contains("lineitem"),
      s"rollup must not touch the fact:\n$plan")
    assert(picked.nonEmpty && picked.forall(_.summary.contains(s"cube_${suf}_")),
      s"rollup members must route onto cuboid tables: $picked")
  }

  test("measure table: every kind's aggregate maps back to its kind; " +
      "avg, count distinct and filtered aggregates are refused") {
    import spark.implicits._
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
    import graft.plans.AggRouting
    // two rows: over one row the optimizer drops DISTINCT altogether
    val fact = Seq(("x", Option(1L)), ("y", None)).toDF("g", "v")
    Seq(Cube.MSum, Cube.MCountAll, Cube.MCountCol, Cube.MMin, Cube.MMax,
        Cube.MBitmap, Cube.MHllSketch).foreach { k =>
      val found = fact.groupBy().agg(k.aggregate(col("v")))
        .queryExecution.optimizedPlan.flatMap(_.expressions)
        .flatMap(_.collect { case ae: AggregateExpression => ae })
      assert(found.map(AggRouting.kindOf) == Seq(Some(k)), s"$k: $found")
    }
    def refusal(c: Column) = intercept[IllegalArgumentException] {
      AggRouting.maintainSummary(fact.groupBy("g").agg(c.as("m")), fact,
        Seq("g"), Map(c -> "m"))
    }.getMessage
    assert(refusal(avg(col("v"))).contains("no exact re-aggregation for avg"))
    Seq(countDistinct(col("v")), expr("count(v) FILTER (WHERE v > 0)"))
      .foreach(c => assert(refusal(c).contains(
        "distinct/filtered aggregates do not decompose"), c))
  }

  test("MeasureDef rejects nothing it cannot combine exactly") {
    // every MKind has a combine; the compile-time sealed trait is the
    // guard — this pins the decomposition table stays total
    val kinds: Seq[Cube.MKind] = Seq(Cube.MSum, Cube.MCountAll,
      Cube.MCountCol, Cube.MMin, Cube.MMax, Cube.MHllSketch)
    kinds.foreach { k =>
      val m = Cube.MeasureDef("x", k, col("l_quantity"))
      assert(m.combine != null && m.base != null)
    }
  }
}
