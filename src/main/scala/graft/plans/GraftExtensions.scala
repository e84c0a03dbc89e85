package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count, HyperLogLogPlusPlus}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.internal.SQLConf

/** Engine extension point (`spark.sql.extensions=graft.plans.GraftExtensions`).
  *
  * Registers:
  *  - [[ApproxDistinctRewrite]]: the Druid-style speed/accuracy
  *    tradeoff the reference contrasts with exact distinct counting
  *    (reference docs/olap.md:46 — Druid "不能精准去重" but answers
  *    fast). Opt-in per session/query via
  *    `spark.graft.approxDistinct.enabled`; off by default so
  *    conformance semantics stay exact.
  *  - [[UnionFusedJoinRewrite]]: fuses a UNION ALL of two same-table
  *    inner joins into one join over a union of key projections
  *    (reference docs/sql调优.md:59-71). Opt-in via
  *    `spark.graft.unionFusedJoin.enabled`.
  *  - [[AggRouteRewrite]]: answers fact-table aggregates from a
  *    registered materialized summary (the Kylin cube-routing
  *    capability, reference docs/olap.md:24). Opt-in via
  *    `spark.graft.aggRouting.enabled`, which also turns on
  *    [[LocalSortFold]]: a routed answer computed on the driver keeps
  *    its ORDER BY … LIMIT on the driver too.
  *  - [[DecimalSum128Rewrite]]: result-identical 128/192-bit integer
  *    accumulation for decimal SUMs (the engine's deterministic-
  *    decimal convention made Sum's BigDecimal buffer the hottest
  *    scalar kernel). ON by default — it preserves results bitwise;
  *    kill switch `spark.graft.decimalSum128.enabled`.
  *  - [[TopKPerGroupStrategy]]: plans the [[TopKPerGroup]] custom
  *    logical operator (bounded-heap top-k per group, no sort).
  *  - SQL names for the [[graft.functions.Bitmap64]] family
  *    (bitmap_build / bitmap_merge / bitmap_and / bitmap_or /
  *    bitmap_andnot / bitmap_cardinality / bitmap_contains), so the
  *    audience/precise-count-distinct capability is reachable from the
  *    reference's SQL-first surface, not just the Scala DSL.
  *  - SQL names for the text/similarity kernel family (word_shingles /
  *    minhash_sig / simhash64 / winnow_fps / unit_norm / dot_sim /
  *    cosine_sim / qcos_sim / hyperplane_lsh / token_chunks /
  *    bpe_encode / earliest_events) — the dedup/ANN/tokenizer/funnel
  *    building blocks as plain SQL functions.
  *  - [[VTabTimeTravelRule]]: the versioned-table SQL surface —
  *    `vtab.`/path`` time travel, `vtab_history`, `vtab_changes`,
  *    routed INSERT INTO/OVERWRITE — plus the bounded-CDC TVF
  *    `table_changes('/path', from[, to])` (== the Scala
  *    `changesBetween`: exclusive from, inclusive to).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  import org.apache.spark.sql.catalyst.FunctionIdentifier
  import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
  import graft.functions.{Bitmap64, BitmapBuildAgg, BitmapCardinality, BitmapContainsExpr, BitmapMergeAgg, BitmapOp}

  private def reg(ext: SparkSessionExtensions, name: String, arity: Int)(
      builder: Seq[Expression] => Expression): Unit =
    ext.injectFunction((FunctionIdentifier(name),
      new ExpressionInfo(classOf[Bitmap64].getName, name),
      (args: Seq[Expression]) => {
        require(args.length == arity,
          s"$name expects $arity argument(s), got ${args.length}")
        builder(args)
      }))

  /** Literal-argument extraction for SQL forms whose Scala DSL takes
    * plain ints/strings (shingle k, plane counts, a merge table): the
    * SQL argument must be foldable — evaluated once at resolution. */
  private def litInt(e: Expression, fn: String): Int = {
    require(e.foldable, s"$fn: argument must be a literal")
    e.eval() match {
      case i: Int => i
      case l: Long => l.toInt
      case o => throw new IllegalArgumentException(
        s"$fn: expected an integer literal, got $o")
    }
  }

  private def litStr(e: Expression, fn: String): String = {
    require(e.foldable, s"$fn: argument must be a literal")
    String.valueOf(e.eval())
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    import graft.functions.{BpeEncode, HyperplaneLSH, MinHashSig,
      SimHash64, TokenChunks, UnitNorm, VectorSim, Winnow, WordShingles}
    ext.injectResolutionRule(s => VTabTimeTravelRule(s))
    // VACUUM / OPTIMIZE for versioned tables — grammar Spark lacks;
    // everything else delegates to Spark's parser untouched
    ext.injectParser((_, delegate) => new GraftSqlParser(delegate))
    ext.injectOptimizerRule(_ => ApproxDistinctRewrite)
    ext.injectOptimizerRule(_ => UnionFusedJoinRewrite)
    ext.injectOptimizerRule(_ => AggRouteRewrite)
    ext.injectOptimizerRule(_ => LocalSortFold)
    // registered AFTER AggRouteRewrite: routing matches builtin Sum
    // nodes, so the 128-bit rewrite must see each Aggregate only once
    // routing has had first pass at it (same-batch rule order)
    ext.injectOptimizerRule(_ => DecimalSum128Rewrite)
    ext.injectPlannerStrategy(_ => TopKPerGroupStrategy)
    reg(ext, "bitmap_build", 1)(a => BitmapBuildAgg(a.head))
    reg(ext, "bitmap_merge", 1)(a => BitmapMergeAgg(a.head))
    reg(ext, "bitmap_and", 2)(a => BitmapOp(a(0), a(1), Bitmap64.OpAnd))
    reg(ext, "bitmap_or", 2)(a => BitmapOp(a(0), a(1), Bitmap64.OpOr))
    reg(ext, "bitmap_andnot", 2)(a =>
      BitmapOp(a(0), a(1), Bitmap64.OpAndNot))
    reg(ext, "bitmap_cardinality", 1)(a => BitmapCardinality(a.head))
    reg(ext, "bitmap_contains", 2)(a => BitmapContainsExpr(a(0), a(1)))
    // text/similarity kernel family — the dedup/ANN building blocks,
    // reachable from SQL text so a SQL-first user can compose the
    // same pipelines the Scala DSL operators run on
    reg(ext, "word_shingles", 2)(a =>
      WordShingles(a(0), litInt(a(1), "word_shingles")))
    reg(ext, "minhash_sig", 2)(a =>
      MinHashSig(a(0), litInt(a(1), "minhash_sig")))
    reg(ext, "simhash64", 1)(a => SimHash64(a.head))
    reg(ext, "norm_text", 1)(a => graft.functions.NormalizeText(a.head))
    reg(ext, "winnow_fps", 3)(a => Winnow(a(0),
      litInt(a(1), "winnow_fps"), litInt(a(2), "winnow_fps")))
    reg(ext, "unit_norm", 1)(a => UnitNorm(a.head))
    reg(ext, "dot_sim", 2)(a => VectorSim(a(0), a(1), VectorSim.Dot))
    reg(ext, "cosine_sim", 2)(a => VectorSim(a(0), a(1), VectorSim.Cos))
    reg(ext, "qcos_sim", 2)(a => VectorSim(a(0), a(1), VectorSim.QCos))
    reg(ext, "hyperplane_lsh", 4)(a => HyperplaneLSH(a(0),
      litInt(a(1), "hyperplane_lsh"), litInt(a(2), "hyperplane_lsh"),
      litInt(a(3), "hyperplane_lsh").toLong))
    reg(ext, "token_chunks", 3)(a => TokenChunks(a(0),
      litInt(a(1), "token_chunks"), litInt(a(2), "token_chunks")))
    // earliest_events(t, si, cap): the bounded per-group timeline
    // aggregate behind windowFunnel/funnelEpisodes, as SQL — a
    // SQL-first user building a funnel gets the same bot-proof bound
    reg(ext, "earliest_events", 3)(a =>
      graft.functions.EarliestEventsAgg(a(0), a(1),
        litInt(a(2), "earliest_events")))
    // bpe_encode(text, 'a b,c d,...'): merge table as a literal —
    // ranked pairs comma-separated, the two symbols space-separated
    // (symbols never contain spaces; '</w>' is fine)
    reg(ext, "bpe_encode", 2)(a => BpeEncode(a(0),
      litStr(a(1), "bpe_encode").split(',').toSeq.filter(_.nonEmpty)
        .map { p =>
          val ab = p.split(' ')
          require(ab.length == 2,
            s"bpe_encode: bad merge entry '$p' (want 'left right')")
          (ab(0), ab(1))
        }))
    // vtab_register('dws.inventory', '/path') binds a catalog-style
    // NAME to a versioned-table root (VTabCatalog), after which the
    // whole vtab SQL surface — time travel, routed DML, table_changes,
    // the derived views — resolves the name through the same machinery
    // as the path form. vtab_unregister drops the binding (data
    // untouched; DROP TABLE <name> routes to the same). Both take
    // literals and register at RESOLUTION time: the binding is
    // idempotent session metadata (like CREATE TEMP VIEW), so repeated
    // analysis (EXPLAIN, retries) is harmless. Returns the root /
    // whether the name was bound.
    reg(ext, "vtab_register", 2) { a =>
      val name = litStr(a(0), "vtab_register")
      val root = litStr(a(1), "vtab_register")
      graft.operators.VTabCatalog.register(name, root)
      org.apache.spark.sql.catalyst.expressions.Literal(
        org.apache.spark.unsafe.types.UTF8String.fromString(root),
        org.apache.spark.sql.types.StringType)
    }
    reg(ext, "vtab_unregister", 1) { a =>
      val name = litStr(a(0), "vtab_unregister")
      org.apache.spark.sql.catalyst.expressions.Literal(
        graft.operators.VTabCatalog.unregister(name),
        org.apache.spark.sql.types.BooleanType)
    }
    // vtab_tables(): the registered name -> root bindings as a table —
    // BI-tool discovery for the named surface (SHOW TABLES for vtabs).
    // Resolution-time snapshot of the registry; read-only.
    ext.injectTableFunction((FunctionIdentifier("vtab_tables"),
      new ExpressionInfo(classOf[VTabTimeTravelRule].getName,
        "vtab_tables"),
      (args: Seq[Expression]) => {
        require(args.isEmpty, "vtab_tables takes no arguments")
        val spark = org.apache.spark.sql.SparkSession.active
        import spark.implicits._
        graft.operators.VTabCatalog.registered.toSeq.sorted
          .toDF("name", "root").queryExecution.analyzed
      }))
    // table_changes('/path', from[, to]): BOUNDED row-level CDC over a
    // versioned table as a table-valued function — the SQL twin of
    // VersionedTable.changesBetween(from, to), with IDENTICAL anchor
    // semantics: changes strictly AFTER `from` (exclusive) up to and
    // including `to` (default: the latest commit). Change rows carry
    // change ∈ insert|delete ONLY: an UPDATE (or a MERGE's matched
    // update) surfaces as a delete+insert PAIR — there is no
    // update_preimage/update_postimage row kind (the dir-diff has no
    // primary-key knowledge to coalesce on), so consumers porting
    // Delta CDF readers must fold pairs themselves. Each anchor is a
    // version number or a TIMESTAMP string/literal — timestamps
    // resolve through the SAME effective-commit-time rules as
    // `TIMESTAMP AS OF` (VersionedTable.versionAsOf: the version at
    // or before the instant, session timezone). Resolution builds
    // the dir-diff plan read-only (manifest reads only — same posture
    // as the vtab.` identifier rule), execution reads only the
    // changed dirs.
    ext.injectTableFunction((FunctionIdentifier("table_changes"),
      new ExpressionInfo(classOf[VTabTimeTravelRule].getName,
        "table_changes"),
      (args: Seq[Expression]) => {
        require(args.length == 2 || args.length == 3,
          "table_changes expects ('/path', from[, to]) — version " +
            "numbers or timestamps")
        val spark = org.apache.spark.sql.SparkSession.active
        // path or registered name — same split as the identifier rule
        val rootArg = litStr(args(0), "table_changes")
        val root = if (rootArg.contains("/")) rootArg
          else graft.operators.VTabCatalog.resolve(rootArg).getOrElse(
            throw new IllegalArgumentException(
              s"table_changes('$rootArg'): not a path and not a " +
                "registered vtab name (vtab_register first)"))
        def anchor(e: Expression): Long = {
          require(e.foldable, s"table_changes('$root'): anchors must " +
            s"be literals, got $e")
          e.eval() match {
            case i: Int => i.toLong
            case l: Long => l
            case s: org.apache.spark.unsafe.types.UTF8String
                if s.toString.trim.matches("\\d+") =>
              s.toString.trim.toLong
            case _ =>
              import org.apache.spark.sql.catalyst.expressions.Cast
              import org.apache.spark.sql.types.TimestampType
              val micros = Cast(e, TimestampType, Some(spark
                .sessionState.conf.sessionLocalTimeZone)).eval()
              require(micros != null, s"table_changes('$root'): " +
                s"anchor is neither a version nor a timestamp: $e")
              graft.operators.VersionedTable.versionAsOf(spark, root,
                micros.asInstanceOf[Long] / 1000L).getOrElse(
                throw new IllegalArgumentException(
                  s"table_changes('$root'): no version committed at " +
                    s"or before $e"))
          }
        }
        val from = anchor(args(1))
        val to = if (args.length == 3) anchor(args(2))
          else graft.operators.VersionedTable.versions(spark, root)
            .lastOption.getOrElse(throw new IllegalArgumentException(
              s"table_changes('$root'): table has no committed versions"))
        // reversed anchors would be an INVERTED diff — refuse here
        // with the TVF's own wording (changesBetween guards too)
        require(from <= to,
          s"table_changes('$root', $from, $to): from must be <= to " +
            "(changes strictly after `from`, up to and including `to`)")
        graft.operators.VersionedTable
          .changesBetween(spark, root, from, to)
          .queryExecution.analyzed
      }))
  }
}

/** Rewrite exact `count(DISTINCT x)` aggregates to HyperLogLog++ when
  * `spark.graft.approxDistinct.enabled=true`.
  *
  * Why a Rule and not a library function: the reference's MOLAP layer
  * applies this tradeoff to EXISTING queries at engine level — the
  * query text stays `count(distinct ...)`, the engine chooses the
  * sketch. HLL++ needs no Expand of the input rows (exact distinct
  * multiplies rows per distinct column through Expand) and merges as a
  * fixed-size sketch, so at 100 TB the shuffle carries KB-sized sketch
  * buffers instead of every distinct value.
  *
  * The rewritten AggregateExpression keeps the original resultId, so
  * downstream attribute references stay valid (both functions return
  * LONG).
  */
object ApproxDistinctRewrite extends Rule[LogicalPlan] {

  private def enabled: Boolean =
    SQLConf.get
      .getConfString("spark.graft.approxDistinct.enabled", "false")
      .toBoolean

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!enabled) plan
    else plan.transform {
      case agg: Aggregate =>
        agg.transformExpressions {
          case ae @ AggregateExpression(
              Count(Seq(child)), _, true, None, _) =>
            ae.copy(
              aggregateFunction = HyperLogLogPlusPlus(child),
              isDistinct = false)
        }
    }
}
