package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Link-graph centrality for corpus quality weighting.
  *
  * Web-scale training corpora weight documents by the link structure
  * of their source pages (the CommonCrawl lineage: PageRank-family
  * scores decide crawl priority and downstream sampling weight).
  * The reference's profile layer computes per-entity statistical
  * weights the same way any iterative aggregation does (reference
  * docs/画像开发方案.md:4 derives tag weights from behavior graphs);
  * this operator is the graph-side counterpart: damped PageRank
  * (Page et al. 1999) as K rounds of join + partial-aggregate.
  *
  * Scale shape per iteration (the classic distributed formulation):
  * one shuffle join of the rank vector with the edge list on `src`
  * (the edge list is hash-partitioned on `src` ONCE and
  * localCheckpoint'd — every iteration reuses the same partitioning,
  * so only the small rank vector moves), one partial+final aggregate
  * keyed by `dst`, and a left join back onto the node set. All
  * shuffle keys are 8-byte ids; document payloads never enter the
  * loop. Lineage is cut per iteration (localCheckpoint) so replay
  * cost on executor loss stays O(1) in the iteration count, same as
  * [[Dedup.connectedComponents]].
  *
  * Two arithmetic modes:
  *
  *  - [[pageRank]] — doubles, for production rank-ordering (absolute
  *    low-order bits are partitioning-dependent, as with any
  *    floating-point sum).
  *  - [[pageRankExact]] — decimal arithmetic that is bit-reproducible
  *    on ANY partitioning and matches an independent engine running
  *    the same recurrence. Division never happens: out-degree weights
  *    are scaled to integers by S = lcm(distinct out-degrees), and
  *    the damping step folds d/S into one terminating-decimal
  *    constant. Per-iteration result scale grows by scale(d/S), and
  *    every intermediate decimal type is sized to hold the exact
  *    value (never capped to Spark's 38-digit ceiling), so no
  *    rounding occurs anywhere. Requires d/S to be a terminating
  *    decimal and bounded iterations — the differential-validation
  *    mode for planted graphs, not the 100 TB path.
  *
  * Dangling nodes (no out-edges) keep receiving rank but their own
  * mass is not redistributed — the simplified recurrence
  * `pr'(v) = (1-d) + d * Σ_{u→v} pr(u)/deg(u)`, stated over node set
  * = src ∪ dst of the edge list. Parallel edges count once per
  * occurrence (weight multiplicity).
  */
object Graph {

  /** Iterative-loop checkpoint hygiene, two concerns in one helper
    * (every iterative loop in the engine routes through it — PageRank
    * ×3, label propagation, star contraction):
    *
    * 1. STATS — localCheckpoint, then REBUILD the frame from the
    *    checkpointed RDD. The rebuild is load-bearing:
    *    `LogicalRDD.fromDataset` propagates the origin plan's
    *    ESTIMATED statistics into the checkpoint (SPARK-39834), and in
    *    an iterative join loop those size-in-bytes estimates compound
    *    multiplicatively every round — by iteration ~40 the estimate
    *    is a million-digit BigInteger and Catalyst's stats visitor
    *    spends minutes per round multiplying it (observed: a 21-node
    *    graph took >10 min). Re-creating the DataFrame from the RDD
    *    resets stats to defaults, at the cost of one lazy row
    *    conversion over the (id, rank) pair per read.
    *
    * 2. STORAGE — each round's localCheckpoint blocks live in the
    *    block manager until GC plus the async ContextCleaner get
    *    around to them — a K-iteration loop on a billion-node graph
    *    otherwise holds K copies of the rank vector in storage. Tracks
    *    the last checkpointed RDD and releases it the moment the NEXT
    *    round's checkpoint has materialized (localCheckpoint is eager,
    *    so the new blocks no longer depend on the old ones), capping
    *    loop storage at ~2 rounds. The final round's blocks are
    *    deliberately kept — the returned frame reads them. */
  private[operators] final class RollingCheckpoint {
    private var prev: org.apache.spark.rdd.RDD[_] = _
    def apply(df: DataFrame): DataFrame = {
      val cp = df.localCheckpoint() // eager: materialized on return
      if (prev != null) prev.unpersist(blocking = false)
      // the PERSISTED rdd is the LogicalRDD's internal one — cp.rdd is
      // a fresh conversion wrapper whose unpersist would free nothing
      // (see [[Checkpoints]]; this was exactly that bug until r13)
      prev = Checkpoints.underlying(cp).getOrElse(cp.rdd)
      cp.sparkSession.createDataFrame(cp.rdd, cp.schema)
    }
  }

  /** Out-degree above which a source's edge rows are spread across
    * salt shards (ceil(deg/threshold), capped at defaultParallelism).
    * Power-law graphs put a constant FRACTION of all edges on a few
    * hub sources; the per-iteration ranks⋈edges join keys on src, and
    * because the edge side is partitioned ONCE and checkpointed (the
    * design that keeps iterations shuffling only the rank vector),
    * AQE's skew-join splitting can never help — it only splits live
    * shuffle outputs. So the skew fix must be structural: hot sources'
    * edges carry a salt = hash(dst) % shards at prep time, and each
    * iteration the (tiny) rank row of a hot source is EXPANDED to one
    * row per shard (the J11 expansion-join pattern) — every edge still
    * joins exactly one rank row, results are unchanged, and no task
    * sees more than ~threshold edges of any one source. The dst-keyed
    * mass aggregate needs no such treatment: in-degree hubs collapse
    * map-side in the partial aggregate. */
  private val hotOutDegreeShard = 65536L

  /** Prep result: `salted` is false when no source crosses the shard
    * threshold — then `weighted`/`nodes` carry no salt columns and the
    * loops keep the exact pre-salting plan shape (no per-iteration
    * Generate, single-key join): the skew machinery costs nothing on
    * the graphs that don't need it. */
  private[graft] final case class Prepped(weighted: DataFrame,
      nodes: DataFrame, deg: DataFrame, salted: Boolean,
      degHist: Array[Long]) {
    /** The rank side of the iteration join, keyed to match `weighted`:
      * expanded to one row per (source, salt shard) when salted. */
    def ranksSide(ranks: DataFrame): DataFrame =
      if (salted)
        ranks.select(col("id").as("src"), col("pr"),
          explode(sequence(lit(0L), col("nsh") - 1)).as("salt"))
      else ranks.select(col("id").as("src"), col("pr"))
    def joinKeys: Seq[String] =
      if (salted) Seq("src", "salt") else Seq("src")
    /** Rank-frame columns carried through the loop. */
    def rankCols: Seq[Column] =
      if (salted) Seq(col("id"), col("nsh")) else Seq(col("id"))
  }

  /** `materialize = false` is the one-plan shape (pageRankExact, ≤4
    * rounds by the scale guard): the raw edge list is checkpointed
    * (one frozen snapshot, so a nondeterministic or concurrently-
    * changing edge source cannot be observed differently by the
    * weighted and nodes scans — bit-exact PageRank needs that), and
    * `weighted` stays a lazy view WITHOUT the explicit repartition:
    * REPARTITION_BY_NUM exchanges are exempt from AQE partition
    * coalescing by contract, so inside the single recurrence plan
    * each round paid a full-width 32-task exchange over tiny data;
    * the rounds' joins install their own AQE-coalescible
    * ENSURE_REQUIREMENTS exchanges instead (probe best-of-3: 1.32s →
    * 1.01s for 3 rounds at sf0.1). Loops that checkpoint PER
    * ITERATION (pageRank / pageRankConverged) keep materialize = true
    * — the frozen src partitioning is what lets every iteration reuse
    * the edge shuffle. `nodes` is checkpointed in both modes (see the
    * note at its construction), and the deg checkpoint always
    * materializes — the salting decision needs its histogram before
    * any plan is built. */
  private[graft] def prep(edges: DataFrame, srcCol: String,
      dstCol: String, saltThreshold: Long,
      materialize: Boolean = true): Prepped = {
    def ckpt(df: DataFrame): DataFrame =
      if (materialize) df.localCheckpoint() else df
    val spark = edges.sparkSession
    val par = spark.sparkContext.defaultParallelism
    val e0 = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"))
    val e = if (materialize) e0 else e0.localCheckpoint()
    // checkpointed: deg is read by the degree-histogram probe below
    // and the weighted join — without this each use re-runs the full
    // edge shuffle. The degree histogram RIDES the checkpoint
    // materialization as an observed metric (observe fires on the
    // eager localCheckpoint action) — one driver probe, ZERO extra
    // jobs, serving both consumers: the max degree (salting decision,
    // = hist.max when the histogram is complete) and the distinct
    // degree VALUES (pageRankExact's lcm). A degree histogram has at
    // most a few hundred distinct values on any real graph; the
    // CAPPED distinct aggregate keeps a pathological graph's metric
    // accumulator bounded at O(cap) — observe metrics cannot spill, so
    // a plain collect_set would buffer the FULL set before any slice
    // could trim it. Length 1001 = overflow signal (same fail-loudly
    // cap the old dedicated probe used); only then does a second job
    // (dedicated max) run.
    val degObs = org.apache.spark.sql.Observation()
    val deg = e.groupBy("src").agg(count(lit(1)).as("deg"))
      .observe(degObs, graft.functions.CappedDistinctLongs
        .cappedDistinctLongs(col("deg"), cap = 1000).as("degs"))
      .localCheckpoint()
    val degHist: Array[Long] = Checkpoints.metric(degObs, "degs") match {
      case Some(s: scala.collection.Seq[_]) =>
        s.map(String.valueOf(_).toLong).toArray
      case _ => // listener event lost: explicit probe, never hang
        deg.select("deg").distinct().limit(1001)
          .collect().map(_.getLong(0))
    }
    val maxDeg =
      if (degHist.isEmpty) 0L
      else if (degHist.length <= 1000) degHist.max
      else deg.agg(max("deg")).head().getLong(0)
    // src side from the checkpointed deg (already-distinct srcs) — the
    // old `e.select(src) union e.select(dst)` re-ran the edge source
    // (a Generate for the planted graphs) and shuffled 2|E| rows into
    // the distinct instead of |dst| + |srcs|
    val nodes0 = deg.select(col("src").as("id"))
      .union(e.select(col("dst").as("id")))
      .distinct()
    // nodes is checkpointed in BOTH modes (below): the one-plan exact
    // consumers reference it once per round plus the init (4+ scans),
    // and the union+distinct re-derivation is NOT deduplicated across
    // those references (each reference is re-instanced with fresh
    // exprIds, and AQE stage reuse measurably did not collapse them:
    // probe best-of-3 1.01s lazy vs 0.71s checkpointed for a 3-round
    // recurrence). One bounded eager job buys 4 re-derivations.
    if (maxDeg <= saltThreshold) {
      // materialize=true (per-iteration loops): partitioned on src
      // once and frozen by the checkpoint; every iteration's join
      // reuses it. materialize=false (one-plan exact mode): NO
      // explicit repartition — REPARTITION_BY_NUM exchanges are
      // exempt from AQE partition coalescing BY CONTRACT, so each of
      // the 3 rounds paid a full-width 32-task exchange on tiny data;
      // the SMJ's own ENSURE_REQUIREMENTS exchange coalesces instead
      // (probe best-of-3: 1.32s -> 1.01s).
      val weighted =
        if (materialize) ckpt(e.join(deg, Seq("src"))
          .repartition(par, col("src")))
        else e.join(deg, Seq("src"))
      return Prepped(weighted, nodes0.localCheckpoint(), deg,
        salted = false, degHist)
    }
    // shards per source: 1 for everyone below the threshold, capped at
    // the parallelism (more shards than tasks buys nothing)
    val nsh = least(ceil(col("deg").cast("double") / saltThreshold),
      lit(par.toLong)).cast("long")
    // same repartition split as the unsalted branch: frozen (src, salt)
    // partitioning for per-iteration loops; AQE-coalescible exchanges
    // for the one-plan exact mode
    val weighted0 = e.join(deg, Seq("src"))
      .withColumn("nsh", nsh)
      .withColumn("salt", pmod(xxhash64(col("dst")), col("nsh")))
    val weighted =
      if (materialize)
        ckpt(weighted0.repartition(par, col("src"), col("salt")))
      else weighted0
    // nodes carry their shard count (1 for dst-only nodes) so the loop
    // can expand rank rows without a per-iteration join against deg
    val nodes = nodes0
      .join(deg.select(col("src").as("id"), nsh.as("nsh")), Seq("id"),
        "left")
      .select(col("id"), coalesce(col("nsh"), lit(1L)).as("nsh"))
      .localCheckpoint()
    Prepped(weighted, nodes, deg, salted = true, degHist)
  }

  /** Damped PageRank over doubles: (id, pr) for every node in
    * src ∪ dst after `iterations` rounds from uniform pr=1. */
  def pageRank(edges: DataFrame, iterations: Int, damping: Double = 0.85,
      srcCol: String = "src", dstCol: String = "dst",
      saltThreshold: Long = hotOutDegreeShard): DataFrame = {
    require(iterations >= 1, "iterations must be >= 1")
    val p = prep(edges, srcCol, dstCol, saltThreshold)
    var ranks = p.nodes.withColumn("pr", lit(1.0))
    val roll = new RollingCheckpoint
    for (_ <- 1 to iterations) {
      val contrib = p.weighted
        .join(p.ranksSide(ranks), p.joinKeys)
        .groupBy(col("dst").as("id"))
        .agg(sum(col("pr") / col("deg")).as("m"))
      ranks = roll(p.nodes.join(contrib, Seq("id"), "left")
        .select(p.rankCols :+
          (lit(1.0 - damping) + lit(damping) * coalesce(col("m"), lit(0.0)))
            .as("pr"): _*))
    }
    ranks.select("id", "pr")
  }

  /** [[pageRank]] with convergence stopping — the production path:
    * iterate until the largest per-node rank change falls below
    * `tol` (read with one tiny aggregate over the just-checkpointed
    * blocks, the same pattern as
    * [[Dedup.connectedComponents]]'s convergence probe) or `maxIter`
    * is hit. Returns (ranks, iterations run). */
  def pageRankConverged(edges: DataFrame, tol: Double = 1e-6,
      maxIter: Int = 50, damping: Double = 0.85,
      srcCol: String = "src", dstCol: String = "dst",
      saltThreshold: Long = hotOutDegreeShard)
      : (DataFrame, Int) = {
    require(tol > 0 && maxIter >= 1)
    val p = prep(edges, srcCol, dstCol, saltThreshold)
    // empty edge set: node set is empty too (degHist is free — prep
    // already collected it) — the convergence probe's max-over-nothing
    // would be NULL; return the init ranks directly
    if (p.degHist.isEmpty)
      return (p.nodes.select("id").withColumn("pr", lit(1.0)), 0)
    var ranks = p.nodes.withColumn("pr", lit(1.0))
    var iter = 0
    var converged = false
    val carry = p.rankCols :+ col("pr")
    val roll = new RollingCheckpoint
    while (!converged && iter < maxIter) {
      val contrib = p.weighted
        .join(p.ranksSide(ranks), p.joinKeys)
        .groupBy(col("dst").as("id"))
        .agg(sum(col("pr") / col("deg")).as("m"))
      // the convergence probe rides the checkpoint's materialization
      // as an observed metric (CollectMetrics accumulates during the
      // localCheckpoint action) — fused, it costs ZERO extra jobs; as
      // a separate max-aggregate it doubled the loop's job count,
      // which on small graphs was most of the wall time
      val obs = org.apache.spark.sql.Observation()
      val next = roll(p.nodes.join(contrib, Seq("id"), "left")
        .join(ranks.select(col("id"), col("pr").as("prev")), Seq("id"))
        .select(p.rankCols ++ Seq(col("prev"),
          (lit(1.0 - damping) + lit(damping) * coalesce(col("m"), lit(0.0)))
            .as("pr")): _*)
        .observe(obs, max(abs(col("pr") - col("prev"))).as("d")))
      converged = Checkpoints.metric(obs, "d") match {
        case Some(d: Double) => d < tol
        case Some(_) => true // null max ⇔ empty rank frame
        case None => // listener event lost: explicit probe, never hang
          next.agg(max(abs(col("pr") - col("prev"))).as("d"))
            .head() match {
            case r if r.isNullAt(0) => true
            case r => r.getDouble(0) < tol
          }
      }
      ranks = next.select(carry: _*)
      iter += 1
    }
    (ranks.select("id", "pr"), iter)
  }

  private def lcm(a: Long, b: Long): Long = {
    @annotation.tailrec def gcd(x: Long, y: Long): Long =
      if (y == 0) x else gcd(y, x % y)
    a / gcd(a, b) * b
  }

  /** Bit-exact damped PageRank (see class doc): decimal arithmetic
    * with LCM-scaled integer edge weights and a terminating d/S
    * damping constant; throws if the degree profile or damping make
    * exactness impossible. `damping` is a ratio of small integers,
    * e.g. (85, 100). Output pr is DOUBLE cast from the exact decimal
    * (equal decimals cast to equal doubles).
    *
    * Runs as a driver-local twin ([[graft.Engine.boundedLocal]]) when
    * the edge list fits: exact decimal arithmetic is order-independent,
    * so the driver loop reproduces the distributed result bit for bit. */
  def pageRankExact(edges: DataFrame, iterations: Int,
      damping: (Int, Int) = (85, 100),
      srcCol: String = "src", dstCol: String = "dst",
      saltThreshold: Long = hotOutDegreeShard): DataFrame = {
    require(iterations >= 1, "iterations must be >= 1")
    graft.Engine.boundedLocal(edges.select(
        col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst")), "pageRankExact") match {
      case Some(rows) =>
        return pageRankExactLocal(edges.sparkSession, rows, iterations,
          damping)
      case None =>
    }
    // materialize = false: the whole ≤4-round recurrence below compiles
    // into ONE plan (no per-iteration checkpoints), so weighted/nodes
    // are re-read only inside that single job where exchange reuse
    // computes them once; both derive from prep's single checkpointed
    // edge snapshot, so the frames can never disagree on the input
    val p = prep(edges, srcCol, dstCol, saltThreshold,
      materialize = false)
    // distinct out-degree VALUES, collected once by prep's histogram
    // probe (bounded; the cap makes a pathological graph fail loudly,
    // not slowly)
    val degs = p.degHist
    require(degs.length <= 1000,
      "pageRankExact: > 1000 distinct out-degrees; use pageRank (double)")
    if (degs.isEmpty) // no edges: pr stays init
      return p.nodes.select("id").withColumn("pr", lit(1.0))
    val s = degs.reduce(lcm)
    require(s > 0 && s <= 1000000L,
      s"pageRankExact: degree lcm $s too large for exact weights; " +
        "use pageRank (double)")
    val (dNum, dDen) = damping
    require(dNum > 0 && dDen > dNum, "damping must be in (0, 1)")
    // d/S = dNum / (dDen * S) must terminate: strip 2s and 5s, then
    // the remaining denominator must divide the numerator's factors
    val dOverS = {
      val exact = BigDecimal(dNum) / BigDecimal(dDen * s)
      require((exact * BigDecimal(dDen * s)).toBigIntExact
          .contains(BigInt(dNum)),
        s"pageRankExact: $dNum/(${dDen}*$s) is not a terminating decimal")
      exact.underlying.stripTrailingZeros
    }
    val oneMinusD = BigDecimal(dDen - dNum) / BigDecimal(dDen)
    val inc = dOverS.scale.max(1)
    val finalScale = 2 + inc * iterations
    require(finalScale <= 18,
      s"pageRankExact: $iterations iterations need scale $finalScale > 18")
    // integer weight w = S / deg, exact by construction of S
    val w = p.weighted.withColumn("w",
      (lit(s) / col("deg")).cast(DecimalType(7, 0)))
    var prScale = 2
    var ranks = p.nodes.withColumn("pr",
      lit(java.math.BigDecimal.ONE).cast(DecimalType(8, 2)))
    // No per-iteration checkpoint here: the scale-18 guard above caps
    // exact mode at ≤4 iterations (0.0425 → 4 digits/round), so the
    // whole recurrence compiles into ONE plan over the checkpointed
    // weighted/nodes frames — neither the SPARK-39834 stats
    // compounding (needs ~40 rounds to bite) nor lineage depth is a
    // concern, and dropping the K eager checkpoint jobs roughly halves
    // the job count of a 3-iteration run (the sf0.1 bench's
    // link_pagerank/centrality_gate are fixed job overhead, not data).
    // One checkpoint at the END materializes the result for the null
    // scan + caller's action.
    for (_ <- 1 to iterations) {
      // type walkthrough (int digits of pr bounded by 6, of the
      // summed mass by 12):
      //   pr (prScale+6, prScale) * w (7,0) -> (prScale+14, prScale)
      //   sum adds 10 digits of headroom -> (prScale+24, prScale);
      //   the value needs at most 12 int digits, so cast the mass
      //   down to (prScale+12, prScale) BEFORE multiplying by dOverS
      //   — without it the multiply's p1+p2+1 crosses Spark's 38-cap
      //   at scale 14 and the precision-loss rule rounds the last
      //   digit away. With it the multiply peaks at precision
      //   (finalScale-inc)+12+inc+scale(dOverS)+1 <= 31: never capped,
      //   never rounded.
      val contrib = w
        .join(p.ranksSide(ranks), p.joinKeys)
        .groupBy(col("dst").as("id"))
        .agg(sum(col("pr") * col("w")).as("m"), count(lit(1)).as("nc"),
          count(col("pr") * col("w")).as("nn"))
      // overflow must THROW, never silently degrade — detected INSIDE
      // expressions this iteration already evaluates (no extra jobs):
      //  - m NULL while nc > 0: the mass sum itself overflowed (the old
      //    coalesce would have turned that into rank (1-d));
      //  - nn < nc: some pr*w INPUT was null, i.e. a previous round's
      //    pr cast overflowed on a node with out-edges (non-ANSI sum
      //    would silently SKIP the null and lose its mass).
      // Nodes with no in-edges (nc null from the left join)
      // legitimately get zero mass. The one case neither counter sees —
      // an overflowed pr on a node with NO out-edges — is caught by the
      // single post-loop null scan below.
      val overflow = col("nc").isNotNull &&
        (col("m").isNull || col("nn") < col("nc"))
      val mRaw = when(overflow,
          raise_error(lit("pageRankExact: decimal overflow (mass sum " +
            "or a prior rank exceeded its integer-digit headroom); " +
            "use pageRank (double)")))
        .otherwise(coalesce(col("m"), lit(java.math.BigDecimal.ZERO)))
      val mTight = mRaw.cast(DecimalType(prScale + 12, prScale))
      prScale += inc
      ranks = p.nodes.join(contrib, Seq("id"), "left")
        .select(p.rankCols :+
          (lit(oneMinusD.underlying) + lit(dOverS) * mTight)
            .cast(DecimalType(prScale + 6, prScale)).as("pr"): _*)
    }
    // last line of defense: a cast overflow in the FINAL round, or on
    // a sink node whose pr never feeds a mass sum, surfaces as a null
    // rank — counted as an observed metric DURING the end checkpoint's
    // materialization (zero extra jobs) instead of a separate scan
    val nullProbe = org.apache.spark.sql.Observation()
    ranks = new RollingCheckpoint()(ranks.observe(nullProbe,
      count(when(col("pr").isNull, 1)).as("nulls")))
    val nulls = Checkpoints.metric(nullProbe, "nulls") match {
      case Some(n: Long) => n
      case _ => // listener event lost: explicit scan, never hang
        ranks.filter(col("pr").isNull).count()
    }
    require(nulls == 0L,
      "pageRankExact: decimal overflow (a rank exceeded its " +
        "integer-digit headroom); use pageRank (double)")
    ranks.select(col("id"), col("pr").cast("double").as("pr"))
  }

  /** Driver-local twin of [[pageRankExact]]'s distributed recurrence —
    * bit-identical BY ARITHMETIC (every step is exact decimal, so
    * evaluation order cannot matter) with the same SQL semantics
    * replicated join-for-join:
    *  - deg groups include a null-src group (its count participates in
    *    the degree lcm, as the distributed groupBy's null group does);
    *  - null-src edges never contribute mass (the src equi-join drops
    *    them); mass to a null dst is lost (the null-keyed contrib
    *    group matches no node in the left join — and is therefore
    *    never overflow-checked either);
    *  - sum overflow past the decimal sum's precision, or a null pr
    *    feeding a reached mass group, THROWS the in-aggregate message;
    *    an mTight/pr cast overflow propagates a null rank caught by
    *    the post-loop scan — exactly the distributed escalation. */
  private def pageRankExactLocal(spark: org.apache.spark.sql.SparkSession,
      edgeRows: Array[org.apache.spark.sql.Row], iterations: Int,
      damping: (Int, Int)): DataFrame = {
    import java.math.{BigDecimal => JBD, BigInteger}
    import scala.collection.mutable
    val overflowInAgg = "pageRankExact: decimal overflow (mass sum " +
      "or a prior rank exceeded its integer-digit headroom); " +
      "use pageRank (double)"
    val edges: Array[(Option[Long], Option[Long])] = edgeRows.map(r =>
      (if (r.isNullAt(0)) None else Some(r.getLong(0)),
        if (r.isNullAt(1)) None else Some(r.getLong(1))))
    val deg = mutable.HashMap.empty[Option[Long], Long]
    edges.foreach { case (s, _) => deg.update(s, deg.getOrElse(s, 0L) + 1) }
    val degs = deg.values.toSeq.distinct
    require(degs.length <= 1000,
      "pageRankExact: > 1000 distinct out-degrees; use pageRank (double)")
    if (degs.isEmpty) // no edges: empty node universe, pr stays init
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("pr",
            org.apache.spark.sql.types.DoubleType))))
    val s = degs.reduce(lcm)
    require(s > 0 && s <= 1000000L,
      s"pageRankExact: degree lcm $s too large for exact weights; " +
        "use pageRank (double)")
    val (dNum, dDen) = damping
    require(dNum > 0 && dDen > dNum, "damping must be in (0, 1)")
    val dOverS = {
      val exact = BigDecimal(dNum) / BigDecimal(dDen * s)
      require((exact * BigDecimal(dDen * s)).toBigIntExact
          .contains(BigInt(dNum)),
        s"pageRankExact: $dNum/(${dDen}*$s) is not a terminating decimal")
      exact.underlying.stripTrailingZeros
    }
    val oneMinusD = (BigDecimal(dDen - dNum) / BigDecimal(dDen)).underlying
    val inc = dOverS.scale.max(1)
    val finalScale = 2 + inc * iterations
    require(finalScale <= 18,
      s"pageRankExact: $iterations iterations need scale $finalScale > 18")
    // nodes = src groups ∪ dst values (null included once, like the
    // distributed union+distinct)
    val nodes = mutable.LinkedHashSet.empty[Option[Long]]
    deg.keys.foreach(nodes += _)
    edges.foreach { case (_, d) => nodes += d }
    // integer weight w = S / deg, exact by construction of S
    val w: Map[Option[Long], JBD] =
      deg.iterator.map { case (k, dg) => k -> JBD.valueOf(s / dg) }.toMap
    // Decimal overflow rule: unscaled |value| must stay below 10^p
    def fits(x: JBD, p: Int): Boolean =
      x.unscaledValue.abs.compareTo(BigInteger.TEN.pow(p)) < 0
    var prScale = 2
    val ranks = mutable.HashMap.empty[Option[Long], JBD]
    nodes.foreach(ranks.update(_, JBD.ONE.setScale(2)))
    for (_ <- 1 to iterations) {
      // mass per non-null dst reached from a non-null src
      val m = mutable.HashMap.empty[Long, JBD]
      val poisoned = mutable.HashSet.empty[Long]
      edges.foreach {
        case (srcOpt @ Some(_), Some(d)) =>
          ranks(srcOpt) match {
            case null => poisoned += d // nn < nc in the distributed agg
            case pr => m.update(d,
              m.getOrElse(d, JBD.ZERO.setScale(prScale))
                .add(pr.multiply(w(srcOpt))))
          }
        case _ => () // null src: dropped by the equi-join
      }
      // decimal sum result precision: (prScale+14)+10 capped at 38
      val sumPrec = math.min(38, prScale + 24)
      val nextScale = prScale + inc
      nodes.foreach { v =>
        val matched = v.flatMap(id =>
          if (poisoned.contains(id)) throw new IllegalArgumentException(
            overflowInAgg)
          else m.get(id))
        val pr = matched match {
          case Some(mass) =>
            if (!fits(mass, sumPrec)) // the mass sum itself overflowed
              throw new IllegalArgumentException(overflowInAgg)
            if (!fits(mass, prScale + 12)) null // mTight cast overflow
            else {
              val next = oneMinusD.add(dOverS.multiply(mass))
                .setScale(nextScale)
              if (fits(next, nextScale + 6)) next else null
            }
          case None =>
            oneMinusD.add(dOverS.multiply(JBD.ZERO.setScale(prScale)))
              .setScale(nextScale)
        }
        ranks.update(v, pr)
      }
      prScale = nextScale
    }
    require(!ranks.values.exists(_ == null),
      "pageRankExact: decimal overflow (a rank exceeded its " +
        "integer-digit headroom); use pageRank (double)")
    val rows = nodes.iterator.map(v => org.apache.spark.sql.Row(
      v.map(Long.box).orNull, ranks(v).doubleValue)).toSeq
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("pr",
          org.apache.spark.sql.types.DoubleType))))
  }

  /** Bit-exact truncated Katz centrality (Katz 1953, "A new status
    * index derived from sociometric analysis"): x_k = 1 + α · Aᵀ x_{k-1}
    * over integer edge weights, run for a fixed small number of rounds.
    * Unlike PageRank there is NO division by out-degree, so exact
    * decimal arithmetic needs no degree-profile precondition — any
    * weighted graph qualifies as long as α is a terminating decimal
    * and the summed mass stays inside its 12 integer-digit headroom
    * (overflow throws, never silently rounds — same discipline as
    * [[pageRankExact]]). This is the engine's TextRank-family scorer:
    * run over a token co-occurrence graph it ranks keywords the way
    * Mihalcea & Tarau (2004) do, with the random-walk normalization
    * replaced by the Katz attenuation so the recurrence is
    * bit-reproducible in any engine (the DuckDB oracle replays the
    * same chained rounds).
    *
    * Scale shape: one narrow checkpointed edge snapshot; per round one
    * equi-join ranks⋈edges on src (AQE broadcasts vocabulary-sized
    * rank frames) and one partially-aggregated sum keyed by dst — hub
    * tokens combine map-side, no skew funnel. ≤5 rounds compile into
    * one plan, no per-iteration checkpoints. Ids may be any
    * equi-joinable type (token strings included). */
  def katzCentralityExact(edges: DataFrame, iterations: Int,
      alpha: (Int, Int) = (1, 100),
      srcCol: String = "src", dstCol: String = "dst",
      weightCol: String = "w"): DataFrame = {
    require(iterations >= 1 && iterations <= 5,
      "katzCentralityExact: 1..5 iterations (scale grows per round)")
    val (aNum, aDen) = alpha
    require(aNum > 0 && aDen > aNum, "alpha must be in (0, 1)")
    val aExact = {
      val a = BigDecimal(aNum) / BigDecimal(aDen)
      require((a * BigDecimal(aDen)).toBigIntExact.contains(BigInt(aNum)),
        s"katzCentralityExact: $aNum/$aDen is not a terminating decimal")
      a.underlying.stripTrailingZeros
    }
    val inc = aExact.scale.max(1)
    // scale cap 8 (not pageRankExact's 18): Katz scores GROW with α
    // above the inverse spectral radius, so pr carries 12 integer
    // digits (vs 6) and the type walkthrough below needs the smaller
    // scale budget to keep every multiply under precision 38 — past
    // 38 Spark's precision-loss rule silently rounds scale away,
    // which would break bit-exactness without any error
    require(2 + inc * iterations <= 8,
      s"katzCentralityExact: $iterations rounds at alpha scale $inc " +
        "exceed decimal scale 8")
    // the node-id type is the src∪dst union's coerced type — derived
    // by ANALYSIS only (no job); probing and joining on it mirrors the
    // distributed union+join coercions
    val idType = edges.select(col(srcCol).as("id"))
      .union(edges.select(col(dstCol).as("id"))).schema.head.dataType
    // driver-local twin, exact like pageRankExact's: the weight CAST
    // rides the probe select so the local loop sees exactly Spark's
    // cast values (incl. its rounding and overflow-null)
    graft.Engine.boundedLocal(edges.select(
        col(srcCol).cast(idType).as("src"),
        col(dstCol).cast(idType).as("dst"),
        col(weightCol).cast(DecimalType(12, 0)).as("w")),
        "katzCentralityExact") match {
      case Some(rows) =>
        return katzExactLocal(edges.sparkSession, rows, iterations,
          aExact, inc, idType)
      case None =>
    }
    // w at (12,0): pr (s+12, s) * w (12, 0) -> (s+25, s) <= 31 for
    // s <= 6, sum caps precision at 38 with scale PRESERVED; a long
    // (20,0) weight would push the multiply past the cap
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"),
      col(weightCol).cast(DecimalType(12, 0)).as("w"))
      .localCheckpoint(true)
    // checkpointed: referenced by the init ranks plus every round's
    // left join, and the union+distinct re-derivation is not
    // deduplicated across references (same evidence as Graph.prep)
    val nodes = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct()
      .localCheckpoint(true)
    var prScale = 2
    var ranks = nodes.withColumn("pr",
      lit(java.math.BigDecimal.ONE).cast(DecimalType(8, 2)))
    for (_ <- 1 to iterations) {
      // same overflow counters as pageRankExact: m NULL with incoming
      // edges = the mass sum overflowed; nn < nc = a prior pr cast
      // overflowed and the non-ANSI sum would silently skip it
      val contrib = e
        .join(ranks.withColumnRenamed("id", "src"), Seq("src"))
        .groupBy(col("dst").as("id"))
        .agg(sum(col("pr") * col("w")).as("m"), count(lit(1)).as("nc"),
          count(col("pr") * col("w")).as("nn"))
      val overflow = col("nc").isNotNull &&
        (col("m").isNull || col("nn") < col("nc"))
      val mRaw = when(overflow,
          raise_error(lit("katzCentralityExact: decimal overflow; " +
            "lower alpha or iterations")))
        .otherwise(coalesce(col("m"), lit(java.math.BigDecimal.ZERO)))
      // 18 integer digits of mass headroom; pr itself carries 12 —
      // geometric growth past either throws via the counters/null scan
      val mTight = mRaw.cast(DecimalType(prScale + 18, prScale))
      prScale += inc
      ranks = nodes.join(contrib, Seq("id"), "left")
        .select(col("id"),
          (lit(java.math.BigDecimal.ONE) + lit(aExact) * mTight)
            .cast(DecimalType(prScale + 12, prScale)).as("pr"))
    }
    // a cast overflow on a sink node never feeds a mass sum: surface
    // as a null rank, counted during the end checkpoint (zero jobs)
    val nullProbe = org.apache.spark.sql.Observation()
    ranks = new RollingCheckpoint()(ranks.observe(nullProbe,
      count(when(col("pr").isNull, 1)).as("nulls")))
    val nulls = Checkpoints.metric(nullProbe, "nulls") match {
      case Some(n: Long) => n
      case _ => ranks.filter(col("pr").isNull).count()
    }
    require(nulls == 0L,
      "katzCentralityExact: decimal overflow (a score exceeded its " +
        "integer-digit headroom); lower alpha or iterations")
    ranks
  }

  /** Driver-local twin of [[katzCentralityExact]]'s distributed
    * recurrence — bit-identical by the same exact-arithmetic argument
    * as [[pageRankExactLocal]]. Replicated SQL semantics: null-src
    * edges drop at the equi-join; mass to a null dst is lost (and
    * never overflow-checked — its contrib group matches no node); a
    * null weight (or a weight the (12,0) cast overflowed — the cast
    * happened Spark-side in the probe) makes pr*w null, so any REACHED
    * group containing one throws the in-aggregate message. */
  private def katzExactLocal(spark: org.apache.spark.sql.SparkSession,
      edgeRows: Array[org.apache.spark.sql.Row], iterations: Int,
      aExact: java.math.BigDecimal, inc: Int,
      idType: org.apache.spark.sql.types.DataType): DataFrame = {
    import java.math.{BigDecimal => JBD, BigInteger}
    import scala.collection.mutable
    val overflowInAgg = "katzCentralityExact: decimal overflow; " +
      "lower alpha or iterations"
    // ids collected AS SPARK VALUES (coerced to the union type in the
    // probe select): equality below is the equi-join's equality, as
    // boundedLocal refuses the binary and floating id types where the
    // two differ
    val edges: Array[(Option[Any], Option[Any], JBD)] = edgeRows.map(r =>
      (Option(r.get(0)), Option(r.get(1)),
        if (r.isNullAt(2)) null else r.getDecimal(2)))
    val nodes = mutable.LinkedHashSet.empty[Option[Any]]
    edges.foreach { case (s, d, _) => nodes += s; nodes += d }
    def fits(x: JBD, p: Int): Boolean =
      x.unscaledValue.abs.compareTo(BigInteger.TEN.pow(p)) < 0
    var prScale = 2
    val ranks = mutable.HashMap.empty[Option[Any], JBD]
    nodes.foreach(ranks.update(_, JBD.ONE.setScale(2)))
    for (_ <- 1 to iterations) {
      val m = mutable.HashMap.empty[Any, JBD]
      val poisoned = mutable.HashSet.empty[Any]
      edges.foreach {
        case (srcOpt @ Some(_), Some(d), w) =>
          val pr = ranks(srcOpt)
          if (pr == null || w == null) poisoned += d
          else m.update(d, m.getOrElse(d, JBD.ZERO.setScale(prScale))
            .add(pr.multiply(w)))
        case _ => () // null src: dropped by the equi-join
      }
      // decimal sum result precision: (prScale+25)+10 capped at 38
      val sumPrec = math.min(38, prScale + 35)
      val nextScale = prScale + inc
      nodes.foreach { v =>
        val matched = v.flatMap(id =>
          if (poisoned.contains(id))
            throw new IllegalArgumentException(overflowInAgg)
          else m.get(id))
        val pr = matched match {
          case Some(mass) =>
            if (!fits(mass, sumPrec))
              throw new IllegalArgumentException(overflowInAgg)
            if (!fits(mass, prScale + 18)) null // mTight cast overflow
            else {
              val next = JBD.ONE.add(aExact.multiply(mass))
                .setScale(nextScale)
              if (fits(next, nextScale + 12)) next else null
            }
          case None =>
            JBD.ONE.add(aExact.multiply(JBD.ZERO.setScale(prScale)))
              .setScale(nextScale)
        }
        ranks.update(v, pr)
      }
      prScale = nextScale
    }
    require(!ranks.values.exists(_ == null),
      "katzCentralityExact: decimal overflow (a score exceeded its " +
        "integer-digit headroom); lower alpha or iterations")
    val rows = nodes.iterator.map(v => org.apache.spark.sql.Row(
      v.orNull, ranks(v).setScale(prScale))).toSeq
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id", idType),
        org.apache.spark.sql.types.StructField("pr",
          DecimalType(prScale + 12, prScale)))))
  }

  /** The planted link graph both conformance sides construct from the
    * customer table: node ids are customer keys, out-degree of node i
    * is CASE i%4 of (1,2,4,5) — degrees chosen so lcm = 20 and
    * d/S = 0.85/20 = 0.0425 terminates — and the j-th out-edge of i
    * points at `1 + (i*31 + j*97) % n`. Deterministic, SQL-
    * expressible, degree-controlled: the exact-arithmetic contract
    * above holds by construction. */
  def plantedLinkGraph(customer: DataFrame, keyCol: String = "c_custkey")
      : DataFrame = {
    val n = customer.count() // one scalar to the driver; oracle uses
                             // the same count as a scalar subquery
    val degOf = expr(s"CASE CAST($keyCol AS BIGINT) % 4 " +
      "WHEN 0 THEN 1 WHEN 1 THEN 2 WHEN 2 THEN 4 ELSE 5 END")
    customer.select(col(keyCol).cast("long").as("src"),
        explode(sequence(lit(1), degOf.cast("int"))).as("j"))
      .select(col("src"),
        (lit(1L) + (col("src") * 31 + col("j") * 97) % lit(n)).as("dst"))
  }
}
