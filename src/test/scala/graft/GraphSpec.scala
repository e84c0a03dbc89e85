package graft

import org.apache.spark.sql.functions._
import graft.operators.Graph

/** PageRank laws: exactness, conservation, structural fixed points. */
class GraphSpec extends SparkSuite {
  import spark.implicits._

  private lazy val planted =
    Graph.plantedLinkGraph(Engine.table(spark, sf, "customer"))
      .localCheckpoint()

  test("cycle graph: every node is exactly 1.0 at every iteration") {
    // on a directed cycle each node has one in- and one out-edge, so
    // uniform rank is the recurrence's fixed point: (1-d) + d*1 = 1
    val n = 17
    val edges = (0 until n).map(i => (i.toLong, ((i + 1) % n).toLong))
      .toDF("src", "dst")
    val pr = Graph.pageRankExact(edges, iterations = 4).collect()
    assert(pr.length == n)
    pr.foreach(r => assert(r.getDouble(1) == 1.0,
      s"node ${r.getLong(0)} drifted to ${r.getDouble(1)}"))
  }

  test("mass conservation: sum(pr') == (1-d)*n + d*sum(pr) sans dangling") {
    // the planted graph has one dangling node (the max dst is never a
    // src when keys start at 0) — restrict to a sub-fixture with none:
    // a cycle union a star whose hub and leaves all link back
    val edges = ((0 until 8).map(i => (i.toLong, ((i + 1) % 8).toLong)) ++
      (8 until 12).map(i => (i.toLong, 20L)) ++ Seq((20L, 8L)))
      .toDF("src", "dst")
    val n = edges.select(col("src").as("id"))
      .union(edges.select(col("dst"))).distinct().count()
    var expected = BigDecimal(n)
    val got1 = Graph.pageRankExact(edges, iterations = 1)
      .agg(sum("pr")).head.getDouble(0)
    expected = BigDecimal("0.15") * n + BigDecimal("0.85") * expected
    assert(math.abs(got1 - expected.toDouble) < 1e-9)
  }

  test("exact mode is partitioning-invariant to the bit") {
    val a = Graph.pageRankExact(planted, 3).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val b = Graph.pageRankExact(planted.repartition(7, col("dst")), 3)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(a.sameElements(b))
  }

  test("double mode agrees with exact mode to float tolerance") {
    val ex = Graph.pageRankExact(planted, 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val db = Graph.pageRank(planted, 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(ex.keySet == db.keySet)
    ex.foreach { case (id, v) =>
      assert(math.abs(v - db(id)) < 1e-9, s"node $id: $v vs ${db(id)}") }
  }

  test("pageRankConverged: stops before maxIter and the fixed point " +
      "is stable under one more iteration") {
    // convergence rate is damping-bound (~0.85^k), so tol drives the
    // iteration count: 1e-3 needs ~40 rounds regardless of graph size
    val edges = ((0 until 8).map(i => (i.toLong, ((i + 1) % 8).toLong)) ++
      (8 until 12).map(i => (i.toLong, 20L)) ++ Seq((20L, 8L)))
      .toDF("src", "dst")
    val (pr, iters) = Graph.pageRankConverged(edges, tol = 1e-3,
      maxIter = 60)
    assert(iters > 3 && iters < 60, s"unexpected iteration count $iters")
    val oneMore = Graph.pageRank(edges, iters + 1)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    pr.collect().foreach { r =>
      assert(math.abs(r.getDouble(1) - oneMore(r.getLong(0))) < 1e-2)
    }
  }

  test("parallel edges carry weight multiplicity") {
    // 0 -> 1 twice and 0 -> 2 once: node 1 receives 2/3 of 0's mass
    val edges = Seq((0L, 1L), (0L, 1L), (0L, 2L), (1L, 0L), (2L, 0L))
      .toDF("src", "dst")
    val pr = Graph.pageRank(edges, 1)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(pr(1L) - (0.15 + 0.85 * (2.0 / 3))) < 1e-12)
    assert(math.abs(pr(2L) - (0.15 + 0.85 * (1.0 / 3))) < 1e-12)
  }

  test("exact mode rejects non-terminating damping/degree profiles") {
    val e3 = Seq((0L, 1L), (0L, 2L), (0L, 3L), (1L, 0L), (2L, 0L),
      (3L, 0L)).toDF("src", "dst") // out-degree 3 -> lcm 3, 0.85/3 repeats
    intercept[IllegalArgumentException] {
      Graph.pageRankExact(e3, 2)
    }
  }

  test("empty edge set: ranks stay at init for declared nodes") {
    val pr = Graph.pageRankExact(Seq.empty[(Long, Long)].toDF("src", "dst"), 2)
    assert(pr.isEmpty) // no edges -> no nodes in src+dst universe
  }

  test("pageRankConverged: empty edge set returns without NPE") {
    val (pr, iters) = Graph.pageRankConverged(
      Seq.empty[(Long, Long)].toDF("src", "dst"))
    assert(pr.isEmpty && iters == 0)
  }

  /** Power-law fixture: hub node 0 owns 32% of all edges (out-degree
    * 2 000 — 2^4·5^3, so the exact mode's lcm with the background's
    * degree 10 is 2000 and d/S = 0.000425 terminates at scale 6);
    * 425 background sources of out-degree 10. */
  private lazy val hubGraph = {
    val hub = spark.range(1, 2001)
      .select(lit(0L).as("src"), col("id").as("dst"))
    val bg = spark.range(1, 426)
      .select(col("id").as("src"),
        explode(sequence(lit(1), lit(10))).as("j"))
      .select(col("src"), (col("src") * 13 + col("j") * 101) % 2000 + 1)
      .toDF("src", "dst")
    hub.unionByName(bg)
  }

  test("hub-skew: salted prep bounds any one source's edges per task") {
    val p = Graph.prep(hubGraph, "src", "dst", saltThreshold = 128L)
    assert(p.salted, "hub out-degree 2000 must cross threshold 128")
    val (weighted, nodes) = (p.weighted, p.nodes)
    val par = spark.sparkContext.defaultParallelism
    val perShard = weighted.groupBy("src", "salt").count()
    val maxShard = perShard.agg(max("count")).head.getLong(0)
    // the hub's 2k edges must spread across min(ceil(2000/128), par)
    // shards; xxhash64(dst) balance gives each ~deg/shards rows
    val shards = math.min(math.ceil(2000.0 / 128).toLong, par.toLong)
    assert(maxShard <= 2 * (2000 / shards),
      s"hub shard of $maxShard rows — salting did not engage")
    assert(maxShard < 2000, "hub edges not split at all")
    // every node knows its shard count; dst-only nodes get 1
    val nsh = nodes.filter(col("id") === 0L).head.getLong(1)
    assert(nsh == shards, s"hub nsh $nsh != $shards")
    assert(nodes.filter(col("nsh") === 1L).count() >= 2000)
    // below the threshold, prep keeps the unsalted single-key shape:
    // no salt column, no per-iteration Generate for normal graphs
    val up = Graph.prep(hubGraph, "src", "dst", saltThreshold = 65536L)
    assert(!up.salted && !up.weighted.columns.contains("salt"))
  }

  test("hub-skew: salted and unsalted exact PageRank agree to the bit; " +
      "double mode to float tolerance") {
    // exact mode is partitioning-invariant by construction, so salted
    // == unsalted proves the expansion join pairs every edge with
    // exactly one rank row (no dup, no drop)
    val salted = Graph.pageRankExact(hubGraph, 2, saltThreshold = 128L)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val plain = Graph.pageRankExact(hubGraph, 2,
        saltThreshold = Long.MaxValue)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(salted.size == plain.size && salted.keySet == plain.keySet)
    salted.foreach { case (id, pr) => assert(pr == plain(id), s"node $id") }
    val dSalted = Graph.pageRank(hubGraph, 2, saltThreshold = 128L)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    dSalted.foreach { case (id, pr) =>
      assert(math.abs(pr - plain(id)) < 1e-9, s"node $id double mode")
    }
  }

  test("exact mode throws on decimal overflow instead of degrading") {
    // a 2M-fan-in star: every leaf points at node 0, so node 0's rank
    // (0.15 + 0.85 * 2e6 at iteration 1) exceeds the 6-integer-digit
    // pr headroom; the old code silently returned a wrong rank, the
    // contract is THROW. Out-degrees stay {1}: lcm 1, 0.85 terminates.
    val n = 2000000L
    val leaves = spark.range(1, n + 1)
      .select(col("id").as("src"), lit(0L).as("dst"))
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else String.valueOf(t.getMessage) +: messages(t.getCause)
    // path 1 — overflow lands in the OUTPUT (hub is a sink, 1
    // iteration): the post-loop null scan raises
    val ex1 = intercept[Exception] {
      Graph.pageRankExact(leaves, 1).collect()
    }
    assert(messages(ex1).exists(_.contains("overflow")), ex1.getMessage)
    // path 2 — the overflowed rank would FEED a later mass sum (hub
    // has an out-edge): the in-aggregate nn<nc counter raises at the
    // next iteration instead of silently dropping the hub's mass
    val withOut = leaves
      .unionByName(Seq((0L, 1L)).toDF("src", "dst"))
    val ex2 = intercept[Exception] {
      Graph.pageRankExact(withOut, 3).collect()
    }
    assert(messages(ex2).exists(_.contains("overflow")), ex2.getMessage)
    // a TRANSIENT sink-node overflow that cannot influence the final
    // ranks (recomputed from incoming mass next round) self-heals: by
    // iteration 2 the leaves' rank is 0.15 and the hub's mass fits
    val ok = Graph.pageRankExact(leaves, 2)
      .filter(col("id") === 0L).head.getDouble(1)
    assert(math.abs(ok - (0.15 + 0.85 * 0.15 * n)) < 1e-6)
  }

  test("CappedDistinctLongs: exact sorted set below the cap, a bounded " +
      "overflow signal above it, and works as an observed metric") {
    import graft.functions.CappedDistinctLongs.cappedDistinctLongs
    import spark.implicits._
    // below cap: the exact sorted distinct set
    val small = Seq(5L, 1L, 5L, 3L, 1L).toDF("x")
      .agg(cappedDistinctLongs(col("x"), cap = 10)).head.getSeq[Long](0)
    assert(small == Seq(1L, 3L, 5L))
    // above cap: length cap+1 signals overflow, memory stays O(cap)
    val big = spark.range(100000).toDF("x")
      .agg(cappedDistinctLongs(col("x"), cap = 7)).head.getSeq[Long](0)
    assert(big.length == 8, s"expected overflow length 8, got ${big.length}")
    // as an observed metric riding a localCheckpoint (the Graph.prep
    // fusion): delivered, exact, bounded
    val obs = org.apache.spark.sql.Observation()
    Seq(2L, 9L, 2L).toDF("x")
      .observe(obs, cappedDistinctLongs(col("x"), cap = 1000).as("d"))
      .localCheckpoint(eager = true)
    val seen = graft.operators.Checkpoints.metric(obs, "d") match {
      case Some(s: scala.collection.Seq[_]) =>
        s.map(String.valueOf(_).toLong)
      case other => fail(s"metric not delivered: $other")
    }
    assert(seen == Seq(2L, 9L))
  }

  test("pageRankExact: driver-local twin == distributed, bit for bit " +
      "(random graphs, parallel edges, null keys, planted)") {
    val rnd = new scala.util.Random(11)
    val randoms = (1 to 3).map { _ =>
      // out-degrees drawn from {1,2,4,5} (lcm 20 terminates) via
      // duplicated rows; some null src/dst rows; parallel edges
      val base = (0 until 40).flatMap { i =>
        val deg = Seq(1, 2, 4, 5)(rnd.nextInt(4))
        (1 to deg).map(_ => (Long.box(i.toLong),
          Long.box(rnd.nextInt(50).toLong)))
      }
      // null src (drops at the join) and a null dst on a DEDICATED
      // source whose degree stays in the terminating set (the null-dst
      // row still counts toward its out-degree)
      val withNulls = base ++ Seq(
        (null.asInstanceOf[java.lang.Long], Long.box(3L)),
        (Long.box(1000L), null.asInstanceOf[java.lang.Long]),
        (Long.box(1000L), Long.box(7L)))
      withNulls.toDF("src", "dst")
    } :+ planted.toDF()
    randoms.zipWithIndex.foreach { case (df, i) =>
      def run() = Graph.pageRankExact(df, 3).orderBy("id").collect()
        .map(r => (if (r.isNullAt(0)) -1L else r.getLong(0),
          r.getDouble(1)))
      val local = run() // default bound: local path
      val dist = withSQLConf("spark.graft.localTwin.maxRows" -> "0") {
        run() // forced distributed
      }
      assert(local.sameElements(dist), s"graph $i: local != distributed")
      // a bound past Int.MaxValue (2^32+10) must not truncate the probe
      val huge =
        withSQLConf("spark.graft.localTwin.maxRows" -> "4294967306") {
          run()
        }
      assert(huge.sameElements(dist), s"graph $i: 2^32+10 != distributed")
    }
  }

  test("katzCentralityExact: driver-local twin == distributed, " +
      "bit for bit (string ids, weights, count ties)") {
    val rnd = new scala.util.Random(23)
    val toks = Seq("alpha", "beta", "gamma", "delta", "eps")
    val strings = (1 to 3).map { _ =>
      (1 to 25).map { _ =>
        (toks(rnd.nextInt(5)), toks(rnd.nextInt(5)),
          (1 + rnd.nextInt(3)).toLong)
      }.filter(p => p._1 != p._2).toDF("src", "dst", "w")
    }
    // keys whose driver-side equality differs from Spark's: 0.0 and
    // -0.0 are one node to Spark (NaN too), and byte arrays compare by
    // reference on the driver
    val doubles = Seq((0.0, 1.0, 1L), (-0.0, 2.0, 2L), (Double.NaN, 0.0, 1L),
      (1.0, Double.NaN, 3L), (2.0, -0.0, 1L), (1.0, 2.0, 1L))
      .toDF("src", "dst", "w")
    val binaries = Seq((Array[Byte](1), Array[Byte](2), 1L),
      (Array[Byte](2), Array[Byte](3), 2L),
      (Array[Byte](3), Array[Byte](1), 1L)).toDF("src", "dst", "w")
    (strings :+ doubles :+ binaries).zipWithIndex.foreach { case (e, trial) =>
      def run() = Graph.katzCentralityExact(e, 3, alpha = (1, 100))
        .collect()
        .map(r => (r.get(0) match {
          case b: Array[Byte] => b.mkString("bytes(", ",", ")")
          case id => String.valueOf(id)
        }, r.getDecimal(1).toString)) // toString: equal value AND scale
        .sorted
      val local = run()
      val dist = withSQLConf("spark.graft.localTwin.maxRows" -> "0") {
        run()
      }
      assert(local.sameElements(dist), s"trial $trial: " +
        s"${local.mkString(" ")} vs ${dist.mkString(" ")}")
    }
  }

  test("katzCentralityExact: hand-computed 2-round recurrence, exact") {
    import spark.implicits._
    // undirected triangle-less graph: a-b (w=2), a-c (w=1)
    val e = Seq(("a", "b", 2L), ("b", "a", 2L),
      ("a", "c", 1L), ("c", "a", 1L)).toDF("src", "dst", "w")
    // alpha 1/10: x1(a)=1+0.1*(2+1)=1.3, x1(b)=1.2, x1(c)=1.1
    // x2(a)=1+0.1*(2*1.2+1*1.1)=1.35, x2(b)=1+0.1*2*1.3=1.26,
    // x2(c)=1+0.1*1.3=1.13
    val out = graft.operators.Graph
      .katzCentralityExact(e, iterations = 2, alpha = (1, 10))
      .collect().map(r => r.getString(0) ->
        r.getDecimal(1).stripTrailingZeros.toPlainString).toMap
    assert(out == Map("a" -> "1.35", "b" -> "1.26", "c" -> "1.13"), out)
    // non-terminating alpha refused loudly
    intercept[IllegalArgumentException] {
      graft.operators.Graph.katzCentralityExact(e, 2, alpha = (1, 3))
    }
  }
}
