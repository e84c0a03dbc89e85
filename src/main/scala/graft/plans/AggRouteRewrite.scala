package graft.plans

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions.{col, lit, sum, when}
import org.apache.spark.sql.catalyst.analysis.EliminateSubqueryAliases
import org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, Cast, Expression, NamedExpression, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count, HllSketchAgg, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan, Project, Repartition, SubqueryAlias}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.unsafe.Platform
import graft.operators.Cube

/** Automatic aggregate routing onto a materialized summary table — the
  * Kylin capability the reference's MOLAP layer provides (reference
  * docs/olap.md:24: queries are answered FROM the cube; the user still
  * writes SQL against the fact table). SURVEY §4.1 names this the
  * third custom-rule candidate.
  *
  * A route declares: this summary table holds `groupBy(dims).agg(
  * canonical measures)` of that fact table. A query's aggregate is
  * rewritten onto the summary when EVERY piece is subsumed:
  *
  *  - grouping columns ⊆ the summary's dims (a coarser grouping
  *    re-aggregates the finer summary — the cube lattice property);
  *  - filters between the aggregate and the fact scan reference only
  *    dims (a dim filter selects whole summary groups, so applying it
  *    to the summary is exact; a measure filter would need raw rows);
  *  - every aggregate call matches a registered canonical measure
  *    (semantic equality after rebinding attributes by name) whose
  *    kind in the measure table ([[Cube.MKind]], reached by
  *    [[AggRouting.kindOf]]) is routable; the kind's combine
  *    re-aggregates the stored partials exactly. Aggregates outside
  *    the table do not decompose — no route. `avg` is deliberately not
  *    special-cased: the repo's exact-arithmetic house style already
  *    phrases averages as decimal-sum / count
  *    ([[graft.functions.davg2]]), and both pieces route.
  *
  * At 100 TB this is the difference between scanning the fact table
  * and scanning a table ~|dims-cardinality| rows long: the scan, the
  * shuffle, and the aggregation hash all shrink by the fact-to-summary
  * ratio, for free in every dashboard query that hits the lattice.
  *
  * A routed aggregate takes one of four shapes; each answer is either
  * computed on the driver (no Spark job) or one Spark stage
  * (interactive latency is the fixed cost per job, not data volume):
  *
  *  - HELD — [[AggRouting.register]] holds the summary's rows on the
  *    driver (one plain parquet relation, no partition columns, rows
  *    within `spark.sql.autoBroadcastJoinThreshold`, all held rows
  *    within `spark.driver.maxResultSize`, smallest first) and the
  *    threshold, read at route time, is ≥ 0 and still covers them:
  *    the dim filter, then the exact-grain projection or the coarser
  *    re-aggregation (each kind's combine, through Spark's own
  *    aggregate evaluation) run on the driver, and the answer is a
  *    `LocalRelation` — a `LocalTableScan` that schedules no job.
  *    [[LocalSortFold]] then folds the statement's ORDER BY … LIMIT
  *    into it. The rewrite replaces the Aggregate before
  *    [[DecimalSum128Rewrite]] sees it.
  *  - EXACT SCAN — grouping columns equal the route's dims as a set:
  *    `Project` over the (filtered) summary. [[AggRouting.register]]
  *    promises one summary row per dims-group, so re-aggregating is
  *    the identity; each measure is its summary column (cast to the
  *    query's result type when they differ) and COUNT(DISTINCT x) is
  *    `bitmap_cardinality` of the stored bitmap, with no merge.
  *  - COALESCED — a coarser grain over a summary whose plan statistics
  *    are at most `spark.sql.autoBroadcastJoinThreshold` (≥ 0): the
  *    re-aggregating `Aggregate` reads the summary through
  *    `Repartition(1, shuffle = false)`. Its `CoalesceExec(1)` reports
  *    `SinglePartition`, so the aggregate plans without an exchange —
  *    the same size bound Spark already trusts for broadcasts.
  *  - DISTRIBUTED — a coarser grain over a large summary (or threshold
  *    -1, which also forces every held summary here or to EXACT SCAN):
  *    a partial/final `Aggregate` across a shuffle.
  *
  * Each pick is recorded for the planning thread
  * ([[AggRouting.recording]]): the summary, its rows and the shape.
  *
  * Output attribute ids, names, and data types are preserved exactly
  * (re-aggregated values are cast back to the original result type
  * when widened — e.g. a re-summed DECIMAL grows 10 digits of
  * precision that the original plan's type does not have), so parent
  * operators resolve unchanged.
  *
  * Freshness is the registrant's contract, exactly as it is Kylin's:
  * a summary built from yesterday's fact answers with yesterday's
  * data until refreshed; held rows are a snapshot taken at
  * registration, like the summary's file index, so a rebuilt summary
  * is registered again, which replaces its route (one route per
  * summary location). Routes are per-JVM ([[AggRouting.register]]);
  * the rewrite is opt-in via `spark.graft.aggRouting.enabled`
  * (default false), mirroring the other graft rules.
  */
object AggRouting {

  final case class Route(
      factPaths: Set[String],
      /** lower-cased fact dim name -> summary column name */
      dims: Map[String, String],
      /** canonical resolved aggregate (over the registered fact's
        * attribute ids) -> summary column name */
      measures: Seq[(AggregateExpression, String)],
      /** lower-cased fact column name -> canonical fact attribute,
        * for rebinding query expressions before semantic compare */
      factAttrs: Map[String, Attribute],
      summaryPlan: LogicalPlan,
      /** summary row count, if known — the rewrite prefers the
        * SMALLEST subsuming summary (the Kylin cuboid-selection
        * rule); unknown sizes sort last */
      rows: Long,
      /** the summary's location: its file relation's root paths, or
        * "" when it scans no file; one route per non-empty location */
      summary: String,
      /** the summary's rows held on the driver, if any */
      held: Option[HeldRows])

  /** A summary's rows held on the driver: UnsafeRows laid out as its
    * plan's output, packed back to back in one buffer (row i ends at
    * `ends(i)`), so each row costs its bytes and one offset. A snapshot
    * taken at [[register]], like the summary's file index. */
  final class HeldRows(data: Array[Byte], ends: Array[Int], numFields: Int) {
    def bytes: Long = data.length
    def rows: Iterator[InternalRow] = ends.indices.iterator.map { i =>
      val start = if (i == 0) 0 else ends(i - 1)
      val r = new UnsafeRow(numFields)
      r.pointTo(data, Platform.BYTE_ARRAY_OFFSET + start, ends(i) - start)
      r
    }
  }

  /** How a routed aggregate is answered (see [[AggRouteRewrite]]). */
  sealed trait Shape
  /** on the driver, from the summary's held rows: no Spark job */
  case object Held extends Shape
  case object ExactScan extends Shape
  case object Coalesced extends Shape
  case object Distributed extends Shape

  /** One routing decision: the summary picked, its rows, the shape. */
  final case class Decision(summary: String, rows: Long, shape: Shape)

  private val routes = new java.util.concurrent.CopyOnWriteArrayList[Route]

  def all: Seq[Route] = {
    import scala.jdk.CollectionConverters._
    routes.asScala.toSeq
  }

  /** Drop every route, and with them their held rows. */
  def clear(): Unit = routes.clear()

  private val recorder =
    new ThreadLocal[scala.collection.mutable.ArrayBuffer[Decision]]

  /** Run `f` and return the routing decisions planned on THIS thread
    * while it ran. Plans are lazy: `f` must force the optimized plan. */
  def recording[T](f: => T): (T, Seq[Decision]) = {
    val prev = recorder.get()
    val log = scala.collection.mutable.ArrayBuffer.empty[Decision]
    recorder.set(log)
    try {
      val r = f
      (r, log.toSeq)
    } finally recorder.set(prev)
  }

  private[plans] def record(d: Decision): Unit =
    Option(recorder.get()).foreach(_ += d)

  /** Run `f` with [[DecimalSum128Rewrite]] disabled on THIS thread,
    * restoring after. Thread-confined (a ThreadLocal the rewrite
    * checks) — mutating the shared session conf here was a race: two
    * overlapping canonical() calls could interleave save/restore and
    * leave the rewrite off for the whole session. */
  private def withDecimalSum128Off[T](f: => T): T = {
    val prev = DecimalSum128Rewrite.suppressed.get()
    DecimalSum128Rewrite.suppressed.set(true)
    try f finally DecimalSum128Rewrite.suppressed.set(prev)
  }

  /** Root paths of the (single) file relation a DataFrame scans. */
  private def scanPaths(df: DataFrame): Set[String] =
    df.queryExecution.analyzed.collect {
      case lr: LogicalRelation => lr.relation match {
        case h: HadoopFsRelation => h.location.rootPaths.map(_.toString)
        case _ => Nil
      }
    }.flatten.toSet

  /** The one map from a resolved aggregate to its row of the measure
    * table ([[Cube.MKind]]); None: no exact re-aggregation. COUNT over
    * non-null constants is COUNT(*). */
  private[graft] def kindOf(ae: AggregateExpression): Option[Cube.MKind] =
    ae.aggregateFunction match {
      case _: Sum => Some(Cube.MSum)
      case c: Count if c.children.forall(e => e.foldable && !e.nullable) =>
        Some(Cube.MCountAll)
      case _: Count => Some(Cube.MCountCol)
      case _: Min => Some(Cube.MMin)
      case _: Max => Some(Cube.MMax)
      case _: graft.functions.BitmapBuildAgg => Some(Cube.MBitmap)
      case _: HllSketchAgg => Some(Cube.MHllSketch)
      case _ => None
    }

  /** Resolve a measure Column against the fact into its (single)
    * AggregateExpression with the fact's canonical attribute ids, and
    * its measure kind. The canonical is taken from the OPTIMIZED plan:
    * the rewrite compares against query trees the optimizer has
    * already constant-folded (e.g. `1 - l_discount` loses its literal
    * cast), so the canonical must be folded the same way or semantic
    * equality never fires. The distinct/filter refusal reads the
    * ANALYZED aggregate, as written: over a fact of at most one row
    * the optimizer drops DISTINCT (`OptimizeOneRowPlan`), which would
    * pass a count(DISTINCT) off as a plain count. */
  private def canonical(fact: DataFrame, c: Column)
      : (AggregateExpression, Cube.MKind) = {
    def only(plan: LogicalPlan): AggregateExpression = {
      val aggExprs = plan.collect { case a: Aggregate => a.aggregateExpressions }.head
      val found = aggExprs.head.collect { case ae: AggregateExpression => ae }
      require(found.length == 1,
        s"measure must be exactly one aggregate call: $c")
      found.head
    }
    // canonicals must be phrased over BUILTIN aggregates: the
    // DecimalSum128 rewrite would otherwise replace Sum with an
    // aggregate over a projected unscaled column whose attribute can
    // never semanticEquals a later query's tree. Routing itself is
    // unaffected (it runs before the 128-bit rewrite in the same
    // optimizer batch, so it always sees builtin Sums first).
    val qe = fact.groupBy().agg(c).queryExecution
    val written = only(qe.analyzed)
    require(!written.isDistinct && written.filter.isEmpty,
      s"distinct/filtered aggregates do not decompose over a summary: $c")
    val ae = withDecimalSum128Off(only(qe.optimizedPlan))
    ae -> kindOf(ae).getOrElse(throw new IllegalArgumentException(
      s"no exact re-aggregation for ${ae.aggregateFunction.prettyName}; " +
        "register sum/count/min/max/bitmap_build measures"))
  }

  /** Register a route. `measures` maps the canonical aggregate Column
    * (phrased over the fact, e.g. `sum(dec2(col("l_quantity")))`) to
    * the summary column holding its per-(dims-group) value. The
    * summary table must contain one row per distinct dims-group of
    * the fact (i.e. be the result of `fact.groupBy(dims).agg(...)`).
    * Exact-grain answers depend on this contract: a query grouped by
    * exactly `dims` is answered by projecting the summary rows as they
    * are, so a summary holding two rows for one group returns both.
    *
    * Registering a summary location again replaces its route. A small
    * plain parquet summary has its rows read on the driver here, with
    * no Spark job, and held for the HELD shape (see [[AggRouteRewrite]]). */
  def register(fact: DataFrame, summary: DataFrame, dims: Seq[String],
      measures: Map[Column, String], rows: Long = Long.MaxValue): Unit = {
    val paths = scanPaths(fact)
    require(paths.nonEmpty, "fact must scan a file relation")
    val factAttrs = fact.queryExecution.analyzed.output
      .map(a => a.name.toLowerCase -> a).toMap
    val sumCols = summary.columns.map(_.toLowerCase).toSet
    val dimMap = dims.map { d =>
      require(sumCols.contains(d.toLowerCase),
        s"summary is missing dim column $d")
      d.toLowerCase -> d
    }.toMap
    val canon = measures.toSeq.map { case (c, sumCol) =>
      require(sumCols.contains(sumCol.toLowerCase),
        s"summary is missing measure column $sumCol")
      canonical(fact, c)._1 -> sumCol
    }
    val plan = EliminateSubqueryAliases(summary.queryExecution.analyzed)
    val location = scanPaths(summary).toSeq.sorted.mkString(",")
    val held = hold(summary.sparkSession, plan)
    val route = Route(paths, dimMap, canon, factAttrs, plan, rows, location, held)
    synchronized {
      // a rebuilt summary replaces its old route: the old one's file
      // index and held rows still describe the deleted files
      if (location.nonEmpty) routes.removeIf(_.summary == location)
      routes.add(route)
      keepHeldWithin(summary.sparkSession.sparkContext.getConf
        .getSizeAsBytes("spark.driver.maxResultSize", "1g"))
    }
  }

  /** The summary's rows, read on the driver with no Spark job, when it
    * is one plain parquet relation with no partition columns and its
    * rows take at most `spark.sql.autoBroadcastJoinThreshold` bytes —
    * the size Spark already trusts to hold on the driver. */
  private def hold(spark: SparkSession, plan: LogicalPlan): Option[HeldRows] = {
    // one buffer with Int offsets holds the rows: below 2 GB
    val cap = math.min(spark.sessionState.conf.autoBroadcastJoinThreshold,
      Int.MaxValue - 8L)
    plan match {
      case lr: LogicalRelation if cap >= 0 => lr.relation match {
        case h: HadoopFsRelation if h.fileFormat.isInstanceOf[ParquetFileFormat] &&
            h.partitionSchema.isEmpty =>
          val data = new java.io.ByteArrayOutputStream
          val ends = Array.newBuilder[Int]
          val writeBuffer = new Array[Byte](4096)
          val within = graft.Engine.parquetRows(spark, h, cap) { r =>
            r.writeToStream(data, writeBuffer)
            ends += data.size
          }
          Option.when(within)(
            new HeldRows(data.toByteArray, ends.result(), h.dataSchema.length))
        case _ => None
      }
      case _ => None
    }
  }

  /** Keep the smallest summaries' held rows while their total stays
    * within `budget` (0: no limit); the larger ones let theirs go. */
  private def keepHeldWithin(budget: Long): Unit = {
    val limit = if (budget <= 0) Long.MaxValue else budget
    var total = 0L
    (0 until routes.size).filter(i => routes.get(i).held.nonEmpty)
      .sortBy(i => routes.get(i).held.get.bytes).foreach { i =>
        val r = routes.get(i)
        if (total + r.held.get.bytes <= limit) total += r.held.get.bytes
        else routes.set(i, r.copy(held = None))
      }
  }

  /** The summary's measure columns in its own order, each with its
    * measure from `measures`. */
  private def summaryMeasures(summary: DataFrame, dims: Seq[String],
      measures: Map[Column, String]): Seq[(String, Column)] = {
    val byName = measures.map { case (c, n) => n.toLowerCase -> c }
    summary.columns.toSeq.filterNot(c => dims.exists(_.equalsIgnoreCase(c)))
      .flatMap(c => byName.get(c.toLowerCase).map(c -> _))
  }

  /** INCREMENTAL summary maintenance — the Kylin segment-build shape:
    * when a new fact partition lands, aggregate ONLY the delta with
    * the canonical measures and [[fold]] it into the current summary.
    * The fact table is never rescanned: at 100 TB a day's ingest
    * maintains the cube at the cost of aggregating one day. Output
    * column names, order, and types match the input summary exactly,
    * so the result can overwrite the summary table in place, and
    * maintained == rebuilt-from-scratch, row for row.
    *
    * `summary`'s columns must be exactly `dims ++ measures.values`
    * (anything else cannot be maintained). `measures` is the same map
    * [[register]] takes. */
  def maintainSummary(summary: DataFrame, delta: DataFrame,
      dims: Seq[String], measures: Map[Column, String]): DataFrame =
    fold(summary, delta, dims, summaryMeasures(summary, dims, measures)
      .map { case (n, c) => Cube.MeasureDef(n, canonical(delta, c)._2) -> c })

  /** The maintenance fold: aggregate `delta` by `dims` with each
    * measure's fact-side aggregate, append it to the summary in its
    * types, and re-aggregate through the lattice's [[Cube.reaggregate]].
    * Every summary column must be a dim or one of `measures`. */
  private[graft] def fold(summary: DataFrame, delta: DataFrame,
      dims: Seq[String], measures: Seq[(Cube.MeasureDef, Column)]): DataFrame = {
    val known = dims ++ measures.map(_._1.name)
    val bad = summary.columns.filterNot(c => known.exists(_.equalsIgnoreCase(c)))
    require(bad.isEmpty, s"summary has unmaintainable columns: ${bad.mkString(", ")}")
    val aggs = measures.map { case (m, c) => c.as(m.name) }
    val partials = delta.groupBy(dims.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
      .select(summary.schema.map(f => col(f.name).cast(f.dataType)): _*)
    Cube.reaggregate(summary.unionByName(partials), measures.map(_._1),
      _.groupBy(dims.map(col): _*)).select(summary.columns.map(col): _*)
  }

  /** Incremental view maintenance FROM A CHANGE FEED — [[maintainSummary]]
    * for CDC input ([[graft.operators.VersionedTable.changesBetween]]'s
    * shape: data columns + `change` ∈ insert|delete): inserts add,
    * deletes RETRACT by their kind's retraction ([[Cube.MKind]]);
    * kinds without one (min/max, sketches: a deleted minimum needs the
    * group rescanned) are rejected up front. Groups whose live row
    * count reaches zero drop out entirely, so maintained == rebuilt
    * holds row-for-row after any mix of merges/deletes/updates (an
    * update is a delete+insert pair and retracts exactly).
    *
    * `countCol` names the summary's COUNT(*) measure — the group
    * liveness witness. Scale shape: one bounded aggregate over the
    * CHANGE FEED (never the fact table) + one summary-sized combine. */
  def maintainSummaryFromCdc(summary: DataFrame, changes: DataFrame,
      dims: Seq[String], measures: Map[Column, String],
      countCol: String): DataFrame = {
    val ms = summaryMeasures(summary, dims, measures)
    require(countCol != null && ms.exists(_._1.equalsIgnoreCase(countCol)),
      s"countCol $countCol must be one of the summary's measures")
    val data = changes.drop("change")
    val sign = when(col("change") === "insert", lit(1L)).otherwise(lit(-1L))
    val signed = ms.map { case (n, c) =>
      val (ae, kind) = canonical(data, c)
      val retract = kind.retract.getOrElse(throw new IllegalArgumentException(
        s"measure $n (${ae.aggregateFunction.prettyName}) cannot RETRACT — " +
          "min/max and sketch measures need a rebuild on delete"))
      Cube.MeasureDef(n, kind) -> sum(retract(sign, ae.aggregateFunction
        .children.map(org.apache.spark.sql.graft.Bridge.column)))
    }
    require(signed.exists { case (m, _) =>
        m.name.equalsIgnoreCase(countCol) && m.kind == Cube.MCountAll },
      s"countCol $countCol must be a COUNT(*) measure")
    fold(summary, changes, dims, signed).filter(col(countCol) > 0)
  }
}

object AggRouteRewrite extends Rule[LogicalPlan] {

  private[plans] def enabled: Boolean =
    SQLConf.get
      .getConfString("spark.graft.aggRouting.enabled", "false")
      .toBoolean

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val routes = AggRouting.all
    if (!enabled || routes.isEmpty) plan
    else plan.transformUp {
      case agg: Aggregate =>
        // smallest subsuming summary wins (Kylin's cuboid selection):
        // among the routes whose dims/measures/filters all match, the
        // one with the fewest rows re-aggregates the least data
        routes.sortBy(_.rows).iterator.flatMap(r => route(agg, r).map(r -> _))
          .nextOption().map { case (r, (p, shape)) =>
            AggRouting.record(AggRouting.Decision(r.summary, r.rows, shape))
            p
          }.getOrElse(agg)
    }
  }

  /** Peel pruning Projects / dim Filters off the aggregate's child down
    * to the scan; collects filter conditions top-down. Bails (None) on
    * anything else — computed projections would need their own
    * rebasing and are not the dashboard shape this rule targets. */
  private def unpeel(p: LogicalPlan)
      : Option[(Seq[Expression], LogicalRelation)] = p match {
    case Filter(cond, child) if cond.deterministic =>
      unpeel(child).map { case (cs, b) => (cond +: cs, b) }
    case Project(pl, child) if pl.forall(_.isInstanceOf[Attribute]) =>
      unpeel(child)
    case SubqueryAlias(_, child) => unpeel(child)
    case lr: LogicalRelation => Some((Nil, lr))
    case _ => None
  }

  private def route(agg: Aggregate, r: AggRouting.Route)
      : Option[(LogicalPlan, AggRouting.Shape)] = {
    val grouping = agg.groupingExpressions
    if (grouping.isEmpty) return None // empty-summary vs count()=0 edge
    if (!grouping.forall(_.isInstanceOf[Attribute])) return None
    val groupNames = grouping.map(_.asInstanceOf[Attribute].name.toLowerCase)
    if (!groupNames.forall(r.dims.contains)) return None

    val (conds, base) = unpeel(agg.child).getOrElse(return None)
    val relPaths = base.relation match {
      case h: HadoopFsRelation => h.location.rootPaths.map(_.toString).toSet
      case _ => return None
    }
    if (relPaths != r.factPaths) return None
    // filters must touch dims only — a dim predicate selects whole
    // summary groups; anything else needs raw rows
    if (!conds.forall(_.references.forall(a =>
      r.dims.contains(a.name.toLowerCase)))) return None

    // fresh summary instance per rewrite (same plan may be routed
    // twice in one query; output ids must not collide)
    val summary = r.summaryPlan.transformUp {
      case m: MultiInstanceRelation => m.newInstance()
    }
    val sAttr: Map[String, Attribute] =
      summary.output.map(a => a.name.toLowerCase -> a).toMap
    def dimAttr(factName: String): Attribute =
      sAttr(r.dims(factName.toLowerCase).toLowerCase)

    // exact grain: the summary already holds one row per query group,
    // so each measure is read as stored and no Aggregate is planned
    val exact = groupNames.toSet == r.dims.keySet

    // rewrite one aggregate call onto the summary, or None
    def reAgg(ae: AggregateExpression): Option[Expression] = {
      if (ae.filter.nonEmpty) return None
      val rebased = ae.transformUp {
        case a: Attribute => r.factAttrs.getOrElse(a.name.toLowerCase, a)
      }.asInstanceOf[AggregateExpression]
      val re: Option[Expression] = if (ae.isDistinct) {
        // COUNT(DISTINCT x) routes onto a registered bitmap_build(x)
        // measure as bitmap_card(bitmap_merge(bm)) — EXACT, because a
        // bitmap is the distinct id set itself and union is its
        // combine (Kylin's precise count-distinct answered from the
        // cube, docs/olap.md:24). Plain Count partials don't compose
        // across summary rows; bitmaps exist precisely to fix that.
        // At exact grain the group's one bitmap needs no merge.
        rebased.aggregateFunction match {
          case Count(Seq(child)) =>
            r.measures.collectFirst {
              case (m, sumCol) if AggRouting.kindOf(m).contains(Cube.MBitmap) &&
                  m.aggregateFunction.children.head.semanticEquals(child) =>
                val bm = sAttr(sumCol.toLowerCase)
                graft.functions.BitmapCardinality(
                  if (exact) bm
                  else Cube.MBitmap.combine(bm).toAggregateExpression())
            }
          case _ => None
        }
      } else {
        // a routable kind re-aggregates by its combine (HLL never routes)
        r.measures.find(_._1.semanticEquals(rebased)).flatMap {
          case (m, sumCol) => AggRouting.kindOf(m).filter(_.routable).map { k =>
            val stored = sAttr(sumCol.toLowerCase)
            if (exact) stored else k.combine(stored).toAggregateExpression()
          }
        }
      }
      re.map(e => if (e.dataType == ae.dataType) e else Cast(e, ae.dataType))
    }

    // rewrite every output expression; any unmatched aggregate call or
    // surviving fact attribute kills the route
    var ok = true
    val outExprs: Seq[NamedExpression] = agg.aggregateExpressions.map {
      case a: Attribute if r.dims.contains(a.name.toLowerCase) =>
        Alias(dimAttr(a.name), a.name)(exprId = a.exprId,
          qualifier = a.qualifier)
      case al: Alias =>
        val newChild = al.child.transformUp {
          case ae: AggregateExpression =>
            reAgg(ae).getOrElse { ok = false; ae }
          case a: Attribute if r.dims.contains(a.name.toLowerCase) =>
            dimAttr(a.name)
        }
        if (newChild.references.exists(a =>
          !summary.outputSet.contains(a))) ok = false
        Alias(newChild, al.name)(exprId = al.exprId,
          qualifier = al.qualifier)
      case _ => ok = false; return None
    }
    if (!ok) return None

    val cond = conds.map(_.transformUp {
        case a: Attribute => dimAttr(a.name)
      })
      .reduceOption(org.apache.spark.sql.catalyst.expressions.And(_, _))
    val newGrouping: Seq[Expression] =
      grouping.map(g => dimAttr(g.asInstanceOf[Attribute].name))
    val threshold = SQLConf.get.autoBroadcastJoinThreshold
    val filtered = cond.map(Filter(_, summary)).getOrElse(summary)
    r.held.filter(h => threshold >= 0 && h.bytes <= threshold &&
        LocalAnswer.evaluable(cond.toSeq ++ outExprs)) match {
      // held rows within the threshold answer on the driver: no job
      case Some(h) =>
        Some(LocalAnswer(h.rows, summary.output, cond, outExprs,
          Option.when(!exact)(newGrouping)) -> AggRouting.Held)
      case None if exact => Some(Project(outExprs, filtered) -> AggRouting.ExactScan)
      // a summary small enough to broadcast re-aggregates in ONE task:
      // CoalesceExec(1) reports SinglePartition, so no exchange is planned
      case None if threshold >= 0 && summary.stats.sizeInBytes <= threshold =>
        Some(Aggregate(newGrouping, outExprs,
          Repartition(1, shuffle = false, filtered)) -> AggRouting.Coalesced)
      case None =>
        Some(Aggregate(newGrouping, outExprs, filtered) -> AggRouting.Distributed)
    }
  }
}
