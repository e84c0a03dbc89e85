package graft.plans

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.analysis.EliminateSubqueryAliases
import org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, Cast, Expression, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count, HllSketchAgg, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan, Project, Repartition, SubqueryAlias}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.internal.SQLConf

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
  *    (semantic equality after rebinding attributes by name), with a
  *    re-aggregation that is EXACT over partial aggregates: sum of
  *    sums, sum of counts, min of mins, max of maxes. count(distinct)
  *    and arbitrary aggregates do not decompose — no route. `avg` is
  *    deliberately not special-cased: the repo's exact-arithmetic
  *    house style already phrases averages as decimal-sum / count
  *    ([[graft.functions.davg2]]), and both pieces route.
  *
  * At 100 TB this is the difference between scanning the fact table
  * and scanning a table ~|dims-cardinality| rows long: the scan, the
  * shuffle, and the aggregation hash all shrink by the fact-to-summary
  * ratio, for free in every dashboard query that hits the lattice.
  *
  * A routed aggregate takes one of three shapes, each one Spark stage
  * (interactive latency is the fixed cost per stage, not data volume):
  *
  *  - EXACT GRAIN — grouping columns equal the route's dims as a set:
  *    `Project` over the (filtered) summary. [[AggRouting.register]]
  *    promises one summary row per dims-group, so re-aggregating is
  *    the identity; each measure is its summary column (cast to the
  *    query's result type when they differ) and COUNT(DISTINCT x) is
  *    `bitmap_cardinality` of the stored bitmap, with no merge.
  *  - COARSER GRAIN, SMALL SUMMARY — the summary's plan statistics are
  *    at most `spark.sql.autoBroadcastJoinThreshold` (≥ 0): the
  *    re-aggregating `Aggregate` reads the summary through
  *    `Repartition(1, shuffle = false)`. Its `CoalesceExec(1)` reports
  *    `SinglePartition`, so the aggregate plans without an exchange —
  *    the same size bound Spark already trusts for broadcasts.
  *  - COARSER GRAIN, LARGE SUMMARY (or threshold -1): the distributed
  *    re-aggregation, a partial/final `Aggregate` across a shuffle.
  *
  * Output attribute ids, names, and data types are preserved exactly
  * (re-aggregated values are cast back to the original result type
  * when widened — e.g. a re-summed DECIMAL grows 10 digits of
  * precision that the original plan's type does not have), so parent
  * operators resolve unchanged.
  *
  * Freshness is the registrant's contract, exactly as it is Kylin's:
  * a summary built from yesterday's fact answers with yesterday's
  * data until refreshed. Routes are per-JVM ([[AggRouting.register]]);
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
      rows: Long = Long.MaxValue)

  private val routes = new java.util.concurrent.CopyOnWriteArrayList[Route]

  def all: Seq[Route] = {
    import scala.jdk.CollectionConverters._
    routes.asScala.toSeq
  }

  def clear(): Unit = routes.clear()

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

  /** Resolve a measure Column against the fact into its (single)
    * AggregateExpression with the fact's canonical attribute ids.
    * Taken from the OPTIMIZED plan, not the analyzed one: the rewrite
    * compares against query trees the optimizer has already
    * constant-folded (e.g. `1 - l_discount` loses its literal cast),
    * so the canonical must be folded the same way or semantic
    * equality never fires. */
  private def canonical(fact: DataFrame, c: Column): AggregateExpression = {
    // canonicals must be phrased over BUILTIN aggregates: the
    // DecimalSum128 rewrite would otherwise replace Sum with an
    // aggregate over a projected unscaled column whose attribute can
    // never semanticEquals a later query's tree. Routing itself is
    // unaffected (it runs before the 128-bit rewrite in the same
    // optimizer batch, so it always sees builtin Sums first).
    val optimized = withDecimalSum128Off {
      fact.groupBy().agg(c).queryExecution.optimizedPlan
    }
    val aggExprs = optimized.collect {
      case a: Aggregate => a.aggregateExpressions }.head
    val found = aggExprs.head.collect { case ae: AggregateExpression => ae }
    require(found.length == 1,
      s"measure must be exactly one aggregate call: $c")
    val ae = found.head
    require(!ae.isDistinct && ae.filter.isEmpty,
      s"distinct/filtered aggregates do not decompose over a summary: $c")
    ae.aggregateFunction match {
      case _: Sum | _: Count | _: Min | _: Max => ae
      // bitmap id-set measures combine exactly via OR-merge — the
      // Kylin precise-count-distinct cube measure (docs/olap.md:24)
      case _: graft.functions.BitmapBuildAgg => ae
      // HLL sketches union-combine losslessly over register state
      // (max-merge) — maintainable, though never routed (approximate)
      case _: HllSketchAgg => ae
      case other => throw new IllegalArgumentException(
        s"no exact re-aggregation for ${other.prettyName}; " +
          "register sum/count/min/max/bitmap_build measures")
    }
  }

  /** Register a route. `measures` maps the canonical aggregate Column
    * (phrased over the fact, e.g. `sum(dec2(col("l_quantity")))`) to
    * the summary column holding its per-(dims-group) value. The
    * summary table must contain one row per distinct dims-group of
    * the fact (i.e. be the result of `fact.groupBy(dims).agg(...)`).
    * Exact-grain answers depend on this contract: a query grouped by
    * exactly `dims` is answered by projecting the summary rows as they
    * are, so a summary holding two rows for one group returns both. */
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
      canonical(fact, c) -> sumCol
    }
    routes.add(Route(paths, dimMap, canon, factAttrs,
      EliminateSubqueryAliases(summary.queryExecution.analyzed), rows))
  }

  /** INCREMENTAL summary maintenance — the Kylin segment-build shape:
    * when a new fact partition lands, aggregate ONLY the delta with
    * the canonical measures, append it to the current summary, and
    * re-aggregate by dims with each measure's exact combine (sum of
    * sums, sum of counts, min of mins, max of maxes). The fact table
    * is never rescanned: at 100 TB a day's ingest maintains the cube
    * at the cost of aggregating one day. Output column names, order,
    * and types match the input summary exactly (re-aggregated
    * decimals are cast back to the summary's declared widths), so the
    * result can overwrite the summary table in place — and because
    * every registered measure decomposes exactly, maintained-summary
    * == rebuilt-from-scratch-summary, row for row.
    *
    * `summary`'s columns must be exactly `dims ++ measures.values`
    * (anything else cannot be maintained). `measures` is the same map
    * [[register]] takes. */
  def maintainSummary(summary: DataFrame, delta: DataFrame,
      dims: Seq[String], measures: Map[Column, String]): DataFrame = {
    val sumCols = summary.columns
    val dimSet = dims.map(_.toLowerCase).toSet
    val measureByName = measures.map { case (c, n) => n.toLowerCase -> c }
    require(sumCols.forall(c => dimSet.contains(c.toLowerCase) ||
      measureByName.contains(c.toLowerCase)),
      s"summary has unmaintainable columns: ${sumCols.filterNot(c =>
        dimSet.contains(c.toLowerCase) ||
          measureByName.contains(c.toLowerCase)).mkString(", ")}")
    val aggCols = measures.toSeq.map { case (c, name) => c.as(name) }
    val deltaAgg = delta.groupBy(dims.map(org.apache.spark.sql.functions
        .col): _*)
      .agg(aggCols.head, aggCols.tail: _*)
      .select(sumCols.map(c => org.apache.spark.sql.functions.col(c)
        .cast(summary.schema(c).dataType)): _*)
    val combined = summary.unionByName(deltaAgg)
    import org.apache.spark.sql.functions.{col => fcol, max => fmax, min => fmin, sum => fsum}
    val reAggs = sumCols.filterNot(c => dimSet.contains(c.toLowerCase))
      .map { name =>
        val fn = canonical(delta, measureByName(name.toLowerCase))
          .aggregateFunction
        val re = fn match {
          case _: Sum | _: Count => fsum(fcol(name))
          case _: Min => fmin(fcol(name))
          case _: Max => fmax(fcol(name))
          case _: graft.functions.BitmapBuildAgg =>
            graft.functions.Bitmap64.bitmapMerge(fcol(name))
          case _: HllSketchAgg =>
            org.apache.spark.sql.functions.hll_union_agg(fcol(name))
          case other => throw new IllegalArgumentException(
            s"no exact combine for ${other.prettyName}")
        }
        re.cast(summary.schema(name).dataType).as(name)
      }
    combined.groupBy(dims.map(fcol): _*).agg(reAggs.head, reAggs.tail: _*)
      .select(sumCols.map(fcol): _*)
  }

  /** Incremental view maintenance FROM A CHANGE FEED — [[maintainSummary]]
    * for CDC input ([[graft.operators.VersionedTable.changesBetween]]'s
    * shape: data columns + `change` ∈ insert|delete): inserts add,
    * deletes RETRACT. Classic IVM restriction applies: only
    * self-inverse measures decompose under deletion — sum subtracts,
    * count decrements; min/max cannot retract (a deleted minimum
    * requires rescanning the group) and are rejected up front. Groups
    * whose live row count reaches zero drop out entirely, so
    * maintained == rebuilt holds row-for-row after any mix of
    * merges/deletes/updates (an update is a delete+insert pair and
    * retracts exactly).
    *
    * `countCol` names the summary's COUNT(*) measure — the group
    * liveness witness. Scale shape: one bounded aggregate over the
    * CHANGE FEED (never the fact table) + one summary-sized combine. */
  def maintainSummaryFromCdc(summary: DataFrame, changes: DataFrame,
      dims: Seq[String], measures: Map[Column, String],
      countCol: String): DataFrame = {
    import org.apache.spark.sql.functions.{col => fcol, lit, sum => fsum, when}
    val sumCols = summary.columns
    val dimSet = dims.map(_.toLowerCase).toSet
    val measureByName = measures.map { case (c, n) => n.toLowerCase -> c }
    require(sumCols.forall(c => dimSet.contains(c.toLowerCase) ||
      measureByName.contains(c.toLowerCase)),
      s"summary has unmaintainable columns: ${sumCols.filterNot(c =>
        dimSet.contains(c.toLowerCase) ||
          measureByName.contains(c.toLowerCase)).mkString(", ")}")
    require(measureByName.contains(countCol.toLowerCase),
      s"countCol $countCol must be one of the summary's measures")
    val data = changes.drop("change")
    val sign = when(fcol("change") === "insert", lit(1L)).otherwise(lit(-1L))
    val signedAggs = measures.toSeq.map { case (c, name) =>
      val ae = canonical(data, c)
      val signed = ae.aggregateFunction match {
        case s: Sum =>
          fsum(sign * org.apache.spark.sql.graft.Bridge.column(s.child))
        case cnt: Count if cnt.children.forall(_.foldable) => fsum(sign)
        case cnt: Count =>
          fsum(when(org.apache.spark.sql.graft.Bridge
            .column(cnt.children.head).isNotNull, sign).otherwise(lit(0L)))
        case other => throw new IllegalArgumentException(
          s"measure $name (${other.prettyName}) cannot RETRACT — " +
            "min/max and sketch measures need a rebuild on delete")
      }
      signed.as(name)
    }
    if (countCol != null) canonical(data, measureByName(countCol
      .toLowerCase)).aggregateFunction match {
      case c: Count if c.children.forall(_.foldable) => // ok: COUNT(*)
      case _ => throw new IllegalArgumentException(
        s"countCol $countCol must be a COUNT(*) measure")
    }
    val delta = changes.groupBy(dims.map(fcol): _*)
      .agg(signedAggs.head, signedAggs.tail: _*)
      .select(sumCols.map(c => fcol(c)
        .cast(summary.schema(c).dataType)): _*)
    val reAggs = sumCols.filterNot(c => dimSet.contains(c.toLowerCase))
      .map(n => fsum(fcol(n)).cast(summary.schema(n).dataType).as(n))
    summary.unionByName(delta)
      .groupBy(dims.map(fcol): _*).agg(reAggs.head, reAggs.tail: _*)
      .filter(fcol(countCol) > 0)
      .select(sumCols.map(fcol): _*)
  }
}

object AggRouteRewrite extends Rule[LogicalPlan] {

  private def enabled: Boolean =
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
        routes.sortBy(_.rows).iterator.map(r => route(agg, r))
          .collectFirst { case Some(p) => p }.getOrElse(agg)
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
      : Option[LogicalPlan] = {
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
              case (m, sumCol) if (m.aggregateFunction match {
                  case b: graft.functions.BitmapBuildAgg =>
                    b.child.semanticEquals(child)
                  case _ => false
                }) =>
                val bm = sAttr(sumCol.toLowerCase)
                graft.functions.BitmapCardinality(
                  if (exact) bm
                  else graft.functions.BitmapMergeAgg(bm)
                    .toAggregateExpression())
            }
          case _ => None
        }
      } else {
        r.measures.find(_._1.semanticEquals(rebased)).flatMap {
          case (_, sumCol) =>
            val col = sAttr(sumCol.toLowerCase)
            (ae.aggregateFunction match {
              case _: Sum => Some(Sum(col))
              case _: Count => Some(Sum(col)) // count re-aggregates as a sum
              case _: Min => Some(Min(col))
              case _: Max => Some(Max(col))
              case _: graft.functions.BitmapBuildAgg =>
                Some(graft.functions.BitmapMergeAgg(col))
              case _ => None // HLL sketches: maintainable, never routed
            }).map(fn => if (exact) col else fn.toAggregateExpression())
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

    val filtered = conds.map(_.transformUp {
        case a: Attribute => dimAttr(a.name)
      })
      .reduceOption(org.apache.spark.sql.catalyst.expressions.And(_, _))
      .map(Filter(_, summary)).getOrElse(summary)
    if (exact) return Some(Project(outExprs, filtered))
    val newGrouping: Seq[Expression] =
      grouping.map(g => dimAttr(g.asInstanceOf[Attribute].name))
    // a summary small enough to broadcast re-aggregates in ONE task:
    // CoalesceExec(1) reports SinglePartition, so no exchange is planned
    val threshold = SQLConf.get.autoBroadcastJoinThreshold
    val input =
      if (threshold >= 0 && summary.stats.sizeInBytes <= threshold)
        Repartition(1, shuffle = false, filtered)
      else filtered
    Some(Aggregate(newGrouping, outExprs, input))
  }
}
