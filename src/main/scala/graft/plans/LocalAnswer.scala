package graft.plans

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression, IntegerLiteral, JoinedRow, NamedExpression, Predicate, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow, Unevaluable}
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.catalyst.plans.logical.{Limit, LocalRelation, LogicalPlan, Sort}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.internal.SQLConf

/** A routed aggregate answered on the driver from a summary's held
  * rows ([[AggRouting.HeldRows]]): the dim filter, then either the
  * exact-grain projection or the re-aggregation by the coarser
  * grouping, evaluated with Spark's own expression and aggregate
  * evaluation. The answer is a `LocalRelation`, which plans as a
  * `LocalTableScan` and schedules no Spark job. */
private[plans] object LocalAnswer {

  /** `rows` are laid out as `input`; `cond` is the dim filter over
    * `input`; `out` the aggregate's rewritten output over `input`;
    * `grouping` None at exact grain, else the dims to re-aggregate by. */
  def apply(rows: Iterator[InternalRow], input: Seq[Attribute],
      cond: Option[Expression], out: Seq[NamedExpression],
      grouping: Option[Seq[Expression]]): LocalRelation = {
    val kept = cond.fold(rows) { c =>
      val p = Predicate.create(c, input)
      p.initialize(0)
      rows.filter(p.eval)
    }
    val answer = grouping match {
      case None =>
        val project = UnsafeProjection.create(out, input)
        kept.map(project(_).copy()).toIndexedSeq
      case Some(keys) => regroup(kept, input, out, keys)
    }
    LocalRelation(out.map(_.toAttribute), answer)
  }

  /** True when the driver can evaluate `exprs`: nothing unevaluable
    * (a subquery, say, which only physical planning makes runnable)
    * outside the aggregate calls, which [[apply]] folds itself. */
  def evaluable(exprs: Seq[Expression]): Boolean = exprs.forall {
    case ae: AggregateExpression =>
      evaluable(ae.aggregateFunction.children ++ ae.filter)
    case _: Attribute => true // bound to the held rows' columns
    case _: Unevaluable => false
    case e => evaluable(e.children)
  }

  /** Group `rows` by `keys` and fold each group through the aggregate
    * calls in `out`, as Spark's hash aggregate does: float and double
    * keys are normalized first, so NaN and -0.0 group with their
    * canonical forms, and the output carries the normalized key. */
  private def regroup(rows: Iterator[InternalRow], input: Seq[Attribute],
      out: Seq[NamedExpression], keys: Seq[Expression]): IndexedSeq[InternalRow] = {
    val aggs = out.flatMap(_.collect { case ae: AggregateExpression => ae }).distinct
    val aggAttrs = aggs.map(a => AttributeReference("agg", a.dataType, a.nullable)())
    val keyAttrs = keys.map(k => AttributeReference("key", k.dataType, k.nullable)())
    val result = UnsafeProjection.create(out.map(_.transformDown {
      case ae: AggregateExpression => aggAttrs(aggs.indexOf(ae))
      case e if keys.exists(_.semanticEquals(e)) =>
        keyAttrs(keys.indexWhere(_.semanticEquals(e)))
    }), keyAttrs ++ aggAttrs)
    val keyOf = UnsafeProjection.create(
      keys.map(Bridge.normalizeFloats), input)
    val groups = mutable.LinkedHashMap.empty[UnsafeRow, mutable.ArrayBuffer[InternalRow]]
    rows.foreach(r =>
      groups.getOrElseUpdate(keyOf(r).copy(), mutable.ArrayBuffer.empty) += r)
    val fold = Bridge.aggregator(aggs, input)
    val joined = new JoinedRow
    groups.iterator.map { case (k, rs) =>
      result(joined(k, fold(rs.iterator))).copy()
    }.toIndexedSeq
  }
}

/** Folds a global `Sort` over a `LocalRelation`, and a `Limit` over
  * such a `Sort` as a top-K, into the relation's rows, when the
  * relation is within `spark.sql.autoBroadcastJoinThreshold` (≥ 0).
  * Spark's `ConvertToLocalRelation` folds `Project`, `Filter` and
  * `Limit` but not `Sort`, so without this a routed dashboard
  * statement answered from held rows (`ORDER BY … LIMIT 200`) would
  * still run a `TakeOrderedAndProject` job. Inert when
  * `spark.graft.aggRouting.enabled` is off. */
object LocalSortFold extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!AggRouteRewrite.enabled) plan
    else plan.transformDown {
      case Limit(IntegerLiteral(k), Sort(order, true, lr: LocalRelation, _))
          if foldable(order, lr) =>
        lr.copy(data = sorted(order, lr, k))
      case Sort(order, true, lr: LocalRelation, _) if foldable(order, lr) =>
        lr.copy(data = sorted(order, lr, lr.data.length))
    }

  private def foldable(order: Seq[SortOrder], lr: LocalRelation): Boolean = {
    val threshold = SQLConf.get.autoBroadcastJoinThreshold
    !lr.isStreaming && order.forall(_.deterministic) &&
      threshold >= 0 && lr.stats.sizeInBytes <= threshold
  }

  /** The first `k` rows of `lr` in `order`: a stable sort when `k`
    * covers every row, else Guava's selection of the `k` least. */
  private def sorted(order: Seq[SortOrder], lr: LocalRelation, k: Int)
      : Seq[InternalRow] = {
    val ordering = RowOrdering.create(order, lr.output)
    if (k >= lr.data.length) lr.data.sorted(ordering)
    else com.google.common.collect.Ordering.from(ordering)
      .leastOf(lr.data.asJava, math.max(k, 0)).asScala.toSeq
  }
}
