package graft.plans

import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedRelation}
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, EqualTo, Expression}
import org.apache.spark.sql.catalyst.plans.logical.{Assignment, DeleteAction,
  InsertAction, InsertStarAction, LogicalPlan, MergeIntoTable, SubqueryAlias,
  UpdateAction, UpdateStarAction}

/** One `MERGE INTO` statement read off Spark's parsed
  * [[MergeIntoTable]]: the single front end of both MERGE executors,
  * [[graft.operators.Warehouse.mergeIntoSql]] (frames) and the vtab
  * route in [[VTabTimeTravelRule]]. Every expression is rewritten onto
  * the canonical aliases both executors bind — `t` for the target, `s`
  * for the source. `keys` come from the ON clause; `matched` keeps the
  * WHEN MATCHED clauses in statement order. Each caller refuses the
  * shapes its executor cannot run. */
case class MergeStatement(target: LogicalPlan, source: LogicalPlan,
    keys: Seq[String],
    matched: Seq[MergeStatement.Matched],
    inserts: Seq[MergeStatement.Insert],
    bySource: Boolean, schemaEvolution: Boolean)

object MergeStatement {

  sealed trait Matched { def cond: Option[Expression] }
  case class Delete(cond: Option[Expression]) extends Matched
  /** `set = None` is `UPDATE SET *`. */
  case class Update(cond: Option[Expression],
      set: Option[Seq[(String, Expression)]]) extends Matched
  /** A WHEN NOT MATCHED clause; `values = None` is `INSERT *`. */
  case class Insert(cond: Option[Expression],
      values: Option[Seq[(String, Expression)]])

  /** `where` prefixes every refusal (which statement, which executor). */
  def read(m: MergeIntoTable, where: String): MergeStatement = {
    val tq = qualifiers(m.targetTable)
    val sq = qualifiers(m.sourceTable)
    for (a <- tq.headOption.map(_.last); b <- sq.headOption.map(_.last))
      require(!a.equalsIgnoreCase(b),
        s"$where: target and source aliases must differ: '$a' vs '$b'")
    // ONE structural pass: a rewritten leaf is never revisited, so a
    // source aliased `t` cannot be re-read as the target, and text
    // inside string literals is never touched
    def canon(e: Expression): Expression = e.transform {
      case a: UnresolvedAttribute =>
        def under(qs: Seq[Seq[String]]) = qs.find(q =>
          a.nameParts.length > q.length &&
            q.indices.forall(i => q(i).equalsIgnoreCase(a.nameParts(i))))
          .map(q => a.nameParts.drop(q.length))
        under(tq).map(r => UnresolvedAttribute("t" +: r))
          .orElse(under(sq).map(r => UnresolvedAttribute("s" +: r)))
          .getOrElse(a)
      // a resolved ref can only be the source's: the target stays an
      // unresolved relation until the statement is routed
      case a: AttributeReference => UnresolvedAttribute(Seq("s", a.name))
    }
    def assigns(as: Seq[Assignment]): Seq[(String, Expression)] = {
      val out = as.map { case Assignment(k, v) =>
        val col = canon(k) match {
          case UnresolvedAttribute(Seq(c)) => c
          case UnresolvedAttribute(Seq("t", c)) => c
          case other => throw new IllegalArgumentException(
            s"$where: SET and INSERT name whole target columns, got " +
              s"$other — struct-field assignment is not supported")
        }
        col -> canon(v)
      }
      require(out.map(_._1.toLowerCase).distinct.size == out.size,
        s"$where: duplicate assignment target in " +
          out.map(_._1).mkString("(", ", ", ")"))
      out
    }
    val keys = conjuncts(canon(m.mergeCondition)).map {
      case EqualTo(UnresolvedAttribute(l), UnresolvedAttribute(r))
          if l.length <= 2 && r.length <= 2 &&
            l.last.equalsIgnoreCase(r.last) && {
              val sides = Seq(l, r).filter(_.length == 2).map(_.head)
              sides.forall(Set("t", "s")) && sides.distinct == sides
            } => l.last
      case other => throw new IllegalArgumentException(
        s"$where: ON must be a conjunction of same-name column " +
          "equalities t.k = s.k, one side the target and the other " +
          s"the source (the merge keys), got: $other")
    }
    MergeStatement(m.targetTable, m.sourceTable, keys,
      m.matchedActions.map {
        case DeleteAction(c) => Delete(c.map(canon))
        case UpdateStarAction(c) => Update(c.map(canon), None)
        case UpdateAction(c, as, _) => Update(c.map(canon), Some(assigns(as)))
        case other => throw new IllegalArgumentException(
          s"$where: unsupported WHEN MATCHED action $other")
      },
      m.notMatchedActions.map {
        case InsertStarAction(c) => Insert(c.map(canon), None)
        case InsertAction(c, as) => Insert(c.map(canon), Some(assigns(as)))
        case other => throw new IllegalArgumentException(
          s"$where: unsupported WHEN NOT MATCHED action $other")
      },
      m.notMatchedBySourceActions.nonEmpty, m.withSchemaEvolution)
  }

  /** The names a side's columns may be qualified with, longest first:
    * its alias, or — unaliased — every suffix of its table name
    * (`db.snap.k` and `snap.k` both name `db.snap`'s column). */
  private def qualifiers(p: LogicalPlan): Seq[Seq[String]] = {
    val name = p match {
      case SubqueryAlias(id, _) => id.qualifier :+ id.name
      case u: UnresolvedRelation => u.multipartIdentifier
      case _ => Nil
    }
    name.indices.map(name.drop)
  }

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case x => Seq(x)
  }
}
