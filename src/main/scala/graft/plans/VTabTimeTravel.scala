package graft.plans

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{RelationTimeTravel, UnresolvedRelation}
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression}
import org.apache.spark.sql.catalyst.plans.QueryPlan
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types.TimestampType

/** SQL-text surface for [[graft.operators.VersionedTable]] — the
  * reference's surface is SQL-first (reference docs/数仓.md), so time
  * travel, history, CDC, and append writes must work as SQL text, not
  * only through the Scala API:
  *
  * {{{
  *   SELECT * FROM vtab.`/path` VERSION AS OF 2          -- snapshot
  *   SELECT * FROM vtab.`/path` TIMESTAMP AS OF '2026-08-16 12:00:00'
  *   SELECT * FROM vtab.`/path`                          -- latest
  *   SELECT * FROM vtab_history.`/path`                  -- DESCRIBE HISTORY
  *   SELECT * FROM vtab_changes.`/path` VERSION AS OF 1  -- CDC after v1
  *   SELECT * FROM vtab_changes.`/path` TIMESTAMP AS OF '…'
  *   SELECT * FROM table_changes('/path', 1, 3)          -- bounded CDC
  *   INSERT INTO vtab.`/path` SELECT …                   -- append = new version
  *   INSERT OVERWRITE vtab.`/path` SELECT …              -- replace = new version
  * }}}
  *
  * Spark's OWN parser already produces [[RelationTimeTravel]] for the
  * `AS OF` clauses (SPARK-37219) — no parser injection needed; this
  * resolution rule gives `vtab*.`-prefixed PATH identifiers a meaning
  * (the same path-as-identifier convention as `delta.`/path``).
  * The rule only claims a 2-part identifier whose second part is
  * path-shaped (contains '/'): a real catalog database that happens
  * to be named `vtab` keeps resolving through the catalog, and a
  * relative name like `vtab.t` falls through to the catalog's own
  * not-found error instead of being hijacked.
  *
  * Version resolution goes through
  * [[graft.operators.VersionedTable.read]], timestamp resolution
  * through the effective-commit-time rules of
  * [[graft.operators.VersionedTable.versionAsOf]] (mtime-bounded
  * fallback + monotonization), `vtab_changes` through
  * [[graft.operators.VersionedTable.changesBetween]], and
  * `vtab_history` through
  * [[graft.operators.VersionedTable.describeHistory]] — so SQL and
  * Scala answers agree by construction. The rule substitutes the
  * analyzed snapshot plan — a plain pruned parquet scan of the
  * manifest's live dirs — so pushdown/pruning behave exactly as the
  * Scala path.
  *
  * CDC anchor semantics (stated prominently, because it is a
  * migration hazard): `vtab_changes.`/p` VERSION AS OF n` returns the
  * changes STRICTLY AFTER version n — exclusive of n itself, through
  * the latest commit — i.e. exactly
  * `changesBetween(n, latest)`. This is NOT Delta Lake's
  * `startingVersion`, which is inclusive of the anchor version's own
  * changes; a user migrating from Delta who wants version n's changes
  * included should anchor at `n - 1`. The bounded TVF
  * `table_changes('/p', from[, to])` (registered by
  * [[GraftExtensions]]) uses the same exclusive-from/inclusive-to
  * contract as the Scala `changesBetween(from, to)`.
  *
  * Reads are READ-ONLY at analysis: no side effects, so repeated
  * analysis (EXPLAIN, retries) is safe. SQL writes are ROUTED, not
  * resolved — a resolved write against the snapshot's parquet
  * relation would bypass the manifest. Each DML verb becomes a
  * RunnableCommand that calls the matching manifest-writing API at
  * EXECUTION time (EXPLAIN shows the command without writing):
  *
  *  - INSERT INTO / INSERT OVERWRITE → [[VTabInsertCommand]] →
  *    `VersionedTable.commit` (append / replace as a new version);
  *  - DELETE FROM … WHERE → [[VTabDeleteCommand]] →
  *    `VersionedTable.deleteWhere` (dir-granularity copy-on-write);
  *  - UPDATE … SET … WHERE → [[VTabUpdateCommand]] →
  *    `VersionedTable.updateWhere`;
  *  - MERGE INTO — key-based upsert shapes: `ON` a conjunction of
  *    same-name column equalities, optional
  *    `WHEN MATCHED [AND c] THEN DELETE`, then
  *    `WHEN MATCHED THEN UPDATE SET *` (whole-row replacement) OR
  *    `UPDATE SET col = expr, …` (column-level assignment — the
  *    accumulating-snapshot fact shape; unassigned columns keep the
  *    target's value, every RHS sees the pre-update row), and a
  *    mandatory `WHEN NOT MATCHED THEN INSERT *` →
  *    [[VTabMergeCommand]] → `VersionedTable.merge` (same dir-pruned
  *    copy-on-write, same first-writer-wins). CONDITIONED updates
  *    (`WHEN MATCHED AND c THEN UPDATE`), BY-SOURCE clauses, and
  *    schema evolution don't map onto the key-based upsert — refused
  *    with a pointer to the Scala API.
  *
  * Subqueries inside DML conditions are refused (the routed commands
  * re-resolve conditions against the bare snapshot at run time, where
  * a correlated subquery has no frame to bind to). */
case class VTabTimeTravelRule(spark: SparkSession) extends Rule[LogicalPlan] {

  private val kinds = graft.operators.VTabCatalog.reservedKinds

  /** (kind, root) for an identifier this rule claims — two addressing
    * forms, resolved through the same downstream machinery:
    *
    *  - PATH form: `vtab.`/p``, `vtab_history.`/p``, … — a 2-part
    *    identifier with a reserved first part and a path-shaped
    *    ('/'-containing) second part. A catalog database named vtab
    *    (or `vtab.relative`) is the catalog's.
    *  - NAME form ([[graft.operators.VTabCatalog]]): any identifier
    *    REGISTERED via `vtab_register('dws.inventory', '/p')` — bare
    *    (`dws.inventory`, kind vtab) or kind-prefixed for the derived
    *    views (`vtab_history.`dws.inventory``). An UNREGISTERED name
    *    is never claimed: it falls through to the session catalog
    *    untouched (real tables keep resolving; missing ones get the
    *    catalog's own error).
    */
  private def idOf(u: UnresolvedRelation): Option[(String, String)] = {
    import graft.operators.VTabCatalog
    val parts = u.multipartIdentifier
    if (parts.length >= 2 && kinds.contains(parts.head.toLowerCase)) {
      val rest = parts.tail.mkString(".")
      if (parts.length == 2 && rest.contains("/"))
        Some((parts.head.toLowerCase, rest))
      else VTabCatalog.resolve(rest).map(r => (parts.head.toLowerCase, r))
    } else VTabCatalog.resolve(parts.mkString(".")).map(r => ("vtab", r))
  }

  private def tsToMillis(root: String, e: Expression): Long = {
    require(e.foldable,
      s"vtab.`$root`: TIMESTAMP AS OF must be a literal, got $e")
    val micros = Cast(e, TimestampType,
      Some(conf.sessionLocalTimeZone)).eval()
    require(micros != null,
      s"vtab.`$root`: TIMESTAMP AS OF value does not parse: $e")
    micros.asInstanceOf[Long] / 1000L
  }

  private def asOfVersion(root: String, ts: Option[Expression],
      version: Option[String]): Long = version match {
    case Some(v) => java.lang.Long.parseLong(v.trim)
    case None =>
      val e = ts.getOrElse(throw new IllegalArgumentException(
        s"vtab.`$root`: AS OF needs a version or timestamp"))
      graft.operators.VersionedTable
        .versionAsOf(spark, root, tsToMillis(root, e))
        .getOrElse(throw new IllegalArgumentException(
          s"vtab.`$root`: no version committed at or before $e"))
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    import org.apache.spark.sql.catalyst.plans.logical.{Assignment,
      DeleteFromTable, DropTable, InsertIntoStatement, MergeIntoTable,
      SubqueryAlias, UpdateTable}
    import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute,
      UnresolvedIdentifier, UnresolvedTableOrView}
    import org.apache.spark.sql.catalyst.expressions.{Literal, SubqueryExpression}
    import graft.operators.VersionedTable
    import MergeStatement.{Delete, Insert, Update}
    // Write-target scan BEFORE the bottom-up substitution below can
    // resolve a write's target relation: a DML statement whose target
    // resolved to the snapshot's parquet relation could mutate files
    // straight past the manifest — data invisible to every versioned
    // read, or worse. Routable write targets are collected BY IDENTITY
    // so the read-substitution cases skip them and the whole statement
    // reaches its routing case intact; unroutable shapes are refused
    // here with a usable message. The target may sit under
    // alias/wrapper nodes (MERGE INTO t ..., DELETE FROM tbl alias) —
    // scan the whole target subtree.
    def vtabIn(target: LogicalPlan): Option[UnresolvedRelation] =
      target.collectFirst {
        case u: UnresolvedRelation if idOf(u).isDefined => u
      }
    // vtab DML target = the base table only; derived views are
    // read-only. Returns the root for a routable target.
    def writeRoot(target: LogicalPlan, verb: String): Option[String] =
      vtabIn(target).map { u =>
        val (kind, root) = idOf(u).get
        if (kind != "vtab")
          throw new IllegalArgumentException(
            s"$kind.`$root` is a derived read-only view — $verb " +
              "would bypass the version manifest; write the base " +
              s"table: $verb … vtab.`$root`")
        root
      }
    def targetAlias(target: LogicalPlan): Option[String] =
      target.collectFirst { case a: SubqueryAlias => a.alias }
    // conditions re-resolve against the bare snapshot frame at run
    // time: strip the statement's table alias off qualified refs, and
    // refuse subqueries (nothing to bind a correlated frame to there)
    def stripAlias(e: Expression, alias: Option[String]): Expression =
      alias.fold(e)(al => e.transform {
        case a: UnresolvedAttribute if a.nameParts.length > 1 &&
            a.nameParts.head.equalsIgnoreCase(al) =>
          UnresolvedAttribute(a.nameParts.tail)
      })
    def mergeOf(root: String, m: MergeIntoTable): MergeStatement =
      MergeStatement.read(m, s"vtab.`$root`: MERGE (routed through " +
        "VersionedTable.merge)")
    def refuseSubquery(root: String, verb: String, es: Seq[Expression]): Unit =
      es.foreach { e =>
        if (e.exists(_.isInstanceOf[SubqueryExpression]))
          throw new IllegalArgumentException(
            s"vtab.`$root`: $verb with a subquery in a condition is " +
              "not supported — materialize the predicate into the " +
              "source first, or use the Scala VersionedTable API")
      }
    val writeTargets = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[UnresolvedRelation, java.lang.Boolean]())
    def claim(target: LogicalPlan): Unit =
      vtabIn(target).foreach(writeTargets.add)
    plan.foreach {
      case i: InsertIntoStatement =>
        writeRoot(i.table, "INSERT").foreach { root =>
          if (i.partitionSpec.nonEmpty || i.userSpecifiedCols.nonEmpty ||
              i.ifPartitionNotExists)
            throw new IllegalArgumentException(
              s"vtab.`$root`: INSERT routes whole snapshots through " +
                "VersionedTable.commit — PARTITION specs, column " +
                "lists, and IF NOT EXISTS are not supported; " +
                "INSERT INTO/OVERWRITE vtab.`<path>` SELECT … only")
          claim(i.table)
        }
      case d: DeleteFromTable =>
        writeRoot(d.table, "DELETE").foreach { root =>
          refuseSubquery(root, "DELETE", Seq(d.condition))
          claim(d.table)
        }
      case u: UpdateTable =>
        writeRoot(u.table, "UPDATE").foreach { root =>
          refuseSubquery(root, "UPDATE",
            u.condition.toSeq ++ u.assignments.map(_.value))
          claim(u.table)
        }
      case m: MergeIntoTable =>
        writeRoot(m.targetTable, "MERGE").foreach { root =>
          // only shapes that map onto VersionedTable.merge are
          // routed; anything else must be refused, not approximated
          // (a BY SOURCE clause or a CONDITIONED update silently
          // treated as the canonical shape would corrupt data)
          val st = mergeOf(root, m)
          val upsert = (st.matched match {
            case Seq(Update(None, _)) | Seq(Delete(_), Update(None, _)) => true
            case _ => false
          }) && st.inserts == Seq(Insert(None, None)) &&
            !st.bySource && !st.schemaEvolution
          if (!upsert) throw new IllegalArgumentException(
            s"vtab.`$root`: MERGE routes through VersionedTable.merge" +
              " (key-based upsert) and supports exactly: ON a " +
              "conjunction of same-name column equalities, optional " +
              "WHEN MATCHED [AND c] THEN DELETE, then WHEN MATCHED " +
              "THEN UPDATE SET * or UPDATE SET col = expr, …, and " +
              "WHEN NOT MATCHED THEN INSERT * — use the Scala API " +
              "for other shapes")
          refuseSubquery(root, "MERGE", Seq(m.mergeCondition) ++
            m.matchedActions)
          claim(m.targetTable)
        }
      case _ =>
    }
    def claimed(target: LogicalPlan): Boolean =
      vtabIn(target).exists(writeTargets.contains)
    def rootOf(target: LogicalPlan): String =
      idOf(vtabIn(target).get).get._2
    // DROP TABLE on a REGISTERED vtab name unregisters the binding and
    // NEVER touches table data (the manifest protocol has no concept
    // of dropping — data lifecycle is vacuum's). Unregistered names
    // fall through to the catalog's own DROP.
    def dropName(child: LogicalPlan): Option[String] = {
      val parts = child match {
        case u: UnresolvedIdentifier => Some(u.nameParts)
        case u: UnresolvedTableOrView => Some(u.multipartIdentifier)
        // the analyzer's own identifier resolution may run before this
        // rule within the resolution batch — a session-catalog
        // ResolvedIdentifier still names a registered binding
        case r: org.apache.spark.sql.catalyst.analysis.ResolvedIdentifier =>
          Some(r.identifier.namespace.toSeq :+ r.identifier.name)
        case _ => None
      }
      parts.map(_.mkString(".")).filter(n =>
        graft.operators.VTabCatalog.resolve(n).isDefined)
    }
    plan.resolveOperatorsUp {
      case DropTable(child, _, _) if dropName(child).isDefined =>
        VTabUnregisterCommand(dropName(child).get)
      // routed writes: each becomes a command that calls the matching
      // manifest-writing API at execution time (a query/source child —
      // which may itself read other vtab tables — was already
      // substituted by the read cases below, children first; the
      // TARGET relation was skipped by identity)
      case i: InsertIntoStatement
          if claimed(i.table) && i.query.resolved =>
        VTabInsertCommand(rootOf(i.table), i.query, i.overwrite, i.byName)
      case d: DeleteFromTable if claimed(d.table) =>
        VTabDeleteCommand(rootOf(d.table),
          VTabExpr(stripAlias(d.condition, targetAlias(d.table))))
      case u: UpdateTable if claimed(u.table) =>
        val alias = targetAlias(u.table)
        val root = rootOf(u.table)
        val set = u.assignments.map { case Assignment(k, v) =>
          val key = stripAlias(k, alias) match {
            case a: UnresolvedAttribute if a.nameParts.length == 1 =>
              a.nameParts.head
            case other => throw new IllegalArgumentException(
              s"vtab.`$root`: UPDATE SET targets whole columns, got " +
                s"$other — struct-field assignment is not supported")
          }
          key -> VTabExpr(stripAlias(v, alias))
        }
        require(set.map(_._1.toLowerCase).distinct.size == set.size,
          s"vtab.`$root`: duplicate assignment target in UPDATE SET")
        VTabUpdateCommand(root, set, VTabExpr(
          stripAlias(u.condition.getOrElse(Literal.TrueLiteral), alias)))
      case m: MergeIntoTable
          if claimed(m.targetTable) && m.sourceTable.resolved =>
        val root = rootOf(m.targetTable)
        val st = mergeOf(root, m)
        val srcCols = m.sourceTable.output.map(_.name)
        val keys = st.keys.map(k => srcCols.find(_.equalsIgnoreCase(k))
          .getOrElse(throw new IllegalArgumentException(
            s"vtab.`$root`: MERGE key $k is not a source column")))
        // the matched-delete condition filters ALIGNED SOURCE rows in
        // VersionedTable.merge — it may reference source columns only
        val deleteMatched = st.matched.collectFirst { case Delete(c) =>
          val norm = c.getOrElse(Literal.TrueLiteral).transform {
            case UnresolvedAttribute("s" +: col) if col.nonEmpty =>
              UnresolvedAttribute(col)
          }
          norm.foreach {
            case a: UnresolvedAttribute
                if a.nameParts.length > 1 && a.nameParts.head == "t" ||
                  !srcCols.exists(_.equalsIgnoreCase(a.nameParts.head)) =>
              throw new IllegalArgumentException(
                s"vtab.`$root`: MERGE's WHEN MATCHED AND <c> THEN " +
                  s"DELETE condition may reference SOURCE columns " +
                  s"only (filters the incoming row), got: $a")
            case _ =>
          }
          VTabExpr(norm)
        }
        // a column-level SET list already reads the canonical t/s
        // aliases VersionedTable.merge's joined frame binds
        val updateSet = st.matched.collectFirst {
          case Update(_, Some(set)) => set.map { case (k, v) => k -> VTabExpr(v) }
        }
        VTabMergeCommand(root, m.sourceTable, keys, deleteMatched,
          updateSet)
      case RelationTimeTravel(u: UnresolvedRelation, ts, version)
          if idOf(u).isDefined && !writeTargets.contains(u) =>
        val (kind, root) = idOf(u).get
        val df = kind match {
          case "vtab" =>
            VersionedTable.read(spark, root,
              Some(asOfVersion(root, ts, version)))
          case "vtab_changes" =>
            // AS OF anchors the diff: all changes STRICTLY AFTER that
            // version (exclusive of the anchor — see the scaladoc
            // hazard note) up to the latest commit; for a bounded or
            // anchor-inclusive read use table_changes('/p', from, to)
            val from = asOfVersion(root, ts, version)
            val latest = VersionedTable.versions(spark, root).lastOption
              .getOrElse(throw new IllegalArgumentException(
                s"vtab_changes.`$root`: table has no committed versions"))
            VersionedTable.changesBetween(spark, root, from, latest)
          case _ => throw new IllegalArgumentException(
            s"vtab_history.`$root` does not take AS OF — it already " +
              "returns one row per version")
        }
        df.queryExecution.analyzed
      case u: UnresolvedRelation
          if idOf(u).isDefined && !writeTargets.contains(u) =>
        val (kind, root) = idOf(u).get
        val df = kind match {
          case "vtab" => VersionedTable.read(spark, root)
          case "vtab_history" => VersionedTable.describeHistory(spark, root)
          case _ => throw new IllegalArgumentException(
            s"vtab_changes.`$root` needs an anchor: add VERSION AS OF " +
              "<v> or TIMESTAMP AS OF '<ts>' (changes strictly after " +
              "that point), or use table_changes('<path>', from, to)")
        }
        df.queryExecution.analyzed
    }
  }
}

/** Routed SQL write for [[graft.operators.VersionedTable]]:
  * `INSERT INTO vtab.`/path`` appends the query result as the next
  * committed version, `INSERT OVERWRITE` replaces the snapshot — both
  * through `VersionedTable.commit`, which is what makes the write a
  * version (manifest CAS, schema gate, CHECK constraints). A
  * RunnableCommand so the commit happens at EXECUTION time:
  * EXPLAIN/dry analysis never writes.
  *
  * Column semantics: positional, like SQL INSERT — the query's
  * columns are cast and renamed to the target's current schema by
  * position (arity must match); `INSERT INTO … BY NAME` maps by name
  * instead. The first INSERT into an empty root keeps the query's own
  * schema (it creates version 1).
  *
  * Additive schema evolution: with
  * `spark.graft.vtab.mergeSchema=true` a BY NAME insert carrying
  * EXTRA columns evolves the table additively through
  * `commit(mergeSchema = true)` (prior rows read back null-filled,
  * prior versions keep their narrow schema — the q_versioned_evolve
  * semantics, from SQL). Without the flag, extra columns are an
  * ERROR naming it — never a silent drop. Positional inserts stay
  * strict either way (positional evolution is ambiguous). */
case class VTabInsertCommand(root: String, query: LogicalPlan,
    overwrite: Boolean, byName: Boolean) extends LeafRunnableCommand {

  override def innerChildren: Seq[QueryPlan[_]] = Seq(query)

  override def run(spark: SparkSession): Seq[Row] = {
    import org.apache.spark.sql.functions.col
    import graft.operators.VersionedTable
    val src = org.apache.spark.sql.graft.Bridge.ofRows(spark, query)
    val evolve = spark.conf
      .get("spark.graft.vtab.mergeSchema", "false").toBoolean
    val df =
      if (VersionedTable.versions(spark, root).isEmpty) src
      else {
        val tgt = VersionedTable.read(spark, root).schema
        if (byName) {
          // case-INSENSITIVE both ways (Spark's default resolution):
          // a query column named ID for target id must neither read as
          // "missing column id" nor double-count as an extra
          val missing = tgt.fieldNames.filterNot(f =>
            src.columns.exists(_.equalsIgnoreCase(f)))
          require(missing.isEmpty,
            s"INSERT INTO vtab.`$root` BY NAME: query is missing " +
              s"column(s) ${missing.mkString(", ")}")
          val extras = src.columns.toSeq.filterNot(c =>
            tgt.fieldNames.exists(_.equalsIgnoreCase(c)))
          require(evolve || extras.isEmpty,
            s"INSERT INTO vtab.`$root` BY NAME: query carries " +
              s"column(s) [${extras.mkString(", ")}] not in the " +
              "table — set spark.graft.vtab.mergeSchema=true to " +
              "evolve the schema additively")
          src.select(tgt.fields.toSeq.map(f =>
            col(f.name).cast(f.dataType).as(f.name)) ++
            extras.map(col): _*)
        } else {
          require(src.columns.length == tgt.fields.length,
            s"INSERT INTO vtab.`$root`: target has " +
              s"${tgt.fields.length} column(s), query produces " +
              s"${src.columns.length}" + (if (evolve)
                " (schema evolution needs BY NAME — positional " +
                  "evolution is ambiguous)" else ""))
          src.select(src.columns.toSeq.zip(tgt.fields.toSeq).map {
            case (c, f) => col(c).cast(f.dataType).as(f.name)
          }: _*)
        }
      }
    VersionedTable.commit(spark, root, df, overwrite = overwrite,
      mergeSchema = evolve)
    Seq.empty
  }
}

/** Routed SQL DELETE: `DELETE FROM vtab.`/path`` [alias] WHERE cond`
  * → [[graft.operators.VersionedTable.deleteWhere]] — the same
  * dir-granularity copy-on-write as the Scala API (untouched dirs are
  * never rewritten), committed as the next version at EXECUTION time.
  * The condition is re-resolved by name against the snapshot frame
  * inside deleteWhere (the statement's table alias was stripped at
  * routing; subqueries were refused there). */
case class VTabDeleteCommand(root: String,
    cond: VTabExpr) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    graft.operators.VersionedTable.deleteWhere(spark, root,
      org.apache.spark.sql.graft.Bridge.column(cond.e))
    Seq.empty
  }
}

/** Routed SQL UPDATE: `UPDATE vtab.`/path`` [alias] SET a = e, …
  * [WHERE cond]` → [[graft.operators.VersionedTable.updateWhere]].
  * Assignment targets must be existing whole columns of the table —
  * checked against the live schema here, because updateWhere's
  * `withColumn` would otherwise silently ADD a misspelled column
  * instead of failing. */
case class VTabUpdateCommand(root: String,
    set: Seq[(String, VTabExpr)],
    cond: VTabExpr) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    import graft.operators.VersionedTable
    val fields = VersionedTable.read(spark, root).schema.fieldNames
    val setCols = set.map { case (k, v) =>
      val actual = fields.find(_.equalsIgnoreCase(k)).getOrElse(
        throw new IllegalArgumentException(
          s"UPDATE vtab.`$root`: SET target `$k` is not a column of " +
            s"the table (${fields.mkString(", ")})"))
      actual -> org.apache.spark.sql.graft.Bridge.column(v.e)
    }.toMap
    VersionedTable.updateWhere(spark, root,
      org.apache.spark.sql.graft.Bridge.column(cond.e), setCols)
    Seq.empty
  }
}

/** Routed SQL MERGE (shape validated at routing): `MERGE INTO
  * vtab.`/path`` t USING src s ON t.k = s.k [WHEN MATCHED [AND c]
  * THEN DELETE] WHEN MATCHED THEN UPDATE SET <* | col = expr, …>
  * WHEN NOT MATCHED THEN INSERT *` →
  * [[graft.operators.VersionedTable.merge]] with `keys` from the ON
  * conjunction, `deleteMatched` from the delete clause (source
  * columns only — it filters the aligned incoming row), and
  * `updateSet` from a column-level SET list (RHS refs normalized at
  * routing onto merge's canonical `t`/`s` aliases; every RHS sees the
  * pre-update target row). Same dir-pruned copy-on-write and
  * first-writer-wins semantics as the Scala API. */
case class VTabMergeCommand(root: String, source: LogicalPlan,
    keys: Seq[String],
    deleteMatched: Option[VTabExpr],
    updateSet: Option[Seq[(String, VTabExpr)]] = None)
    extends LeafRunnableCommand {
  override def innerChildren: Seq[QueryPlan[_]] = Seq(source)
  override def run(spark: SparkSession): Seq[Row] = {
    import org.apache.spark.sql.graft.Bridge
    graft.operators.VersionedTable.merge(spark, root,
      Bridge.ofRows(spark, source), keys,
      deleteMatched.map(h => Bridge.column(h.e)),
      updateSet = updateSet.map(_.map { case (k, h) =>
        k -> Bridge.column(h.e) }))
    Seq.empty
  }
}

/** SQL `RESTORE [TABLE] <target> [TO] VERSION AS OF n` (parsed by
  * [[GraftSqlParser]] — Delta's verb, absent from Spark's grammar) →
  * [[graft.operators.VersionedTable.rollback]]: commits a NEW version
  * with version n's dir list, schema, and constraint set — history
  * stays append-only, every "undone" version remains readable.
  * Returns the new version. */
case class VTabRestoreCommand(root: String,
    toVersion: Long) extends LeafRunnableCommand {
  import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference}
  import org.apache.spark.sql.types.LongType
  override val output: Seq[Attribute] =
    Seq(AttributeReference("new_version", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(graft.operators.VersionedTable.rollback(spark, root,
      toVersion)))
}

/** SQL `ALTER TABLE <vtab-target> ADD CONSTRAINT <name> CHECK (expr)`
  * / `… DROP CONSTRAINT <name>` (parsed by [[GraftSqlParser]], claimed
  * ONLY for vtab-resolvable targets — every other ALTER TABLE
  * delegates to Spark untouched) →
  * [[graft.operators.VersionedTable.addConstraint]]/`dropConstraint`:
  * existing data validated first, the constraint enforced by every
  * later write path as an observed metric, Delta semantics (NULL
  * passes, only FALSE violates). Returns the new version. */
case class VTabConstraintCommand(root: String, name: String,
    exprSql: Option[String]) extends LeafRunnableCommand {
  import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference}
  import org.apache.spark.sql.types.LongType
  override val output: Seq[Attribute] =
    Seq(AttributeReference("new_version", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    import graft.operators.VersionedTable
    val v = exprSql match {
      case Some(e) => VersionedTable.addConstraint(spark, root, name, e)
      case None => VersionedTable.dropConstraint(spark, root, name)
    }
    Seq(Row(v))
  }
}

/** SQL `DESCRIBE HISTORY vtab.`/p``` / `DESCRIBE HISTORY <name>`
  * (parsed by [[GraftSqlParser]] — Spark's DESCRIBE grammar has no
  * HISTORY form) → [[graft.operators.VersionedTable.describeHistory]]:
  * one row per committed version, newest first — (version, ts,
  * operation, n_dirs), the same frame the `vtab_history` view
  * returns, as the Delta-style verb. Runs at execution time;
  * driver-side manifest reads only. */
case class VTabHistoryCommand(root: String) extends LeafRunnableCommand {
  import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference}
  import org.apache.spark.sql.types.{LongType, StringType, TimestampType}
  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType, nullable = false)(),
    AttributeReference("ts", TimestampType, nullable = true)(),
    AttributeReference("operation", StringType, nullable = true)(),
    AttributeReference("n_dirs", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] =
    graft.operators.VersionedTable.describeHistory(spark, root)
      .collect().toSeq
}

/** SQL `VACUUM vtab.`/p`` [RETAIN n VERSIONS]` (parsed by
  * [[GraftSqlParser]]) → [[graft.operators.VersionedTable.vacuum]]:
  * drops all but the last n manifests (default 2 — vacuum's own
  * default) and reclaims data dirs no retained manifest references.
  * All retention safety is vacuum's, unchanged: n >= 1 enforced, the
  * in-flight-commit orphan grace protects concurrent writers, and
  * only dropped-manifest dirs are reclaimed age-blind. Returns the
  * deleted-dir count as a row. */
case class VTabVacuumCommand(root: String,
    keepVersions: Int) extends LeafRunnableCommand {
  import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference}
  import org.apache.spark.sql.types.LongType
  override val output: Seq[Attribute] =
    Seq(AttributeReference("deleted_dirs", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val n = graft.operators.VersionedTable.vacuum(spark, root,
      keepVersions = keepVersions)
    Seq(Row(n.toLong))
  }
}

/** SQL `OPTIMIZE vtab.`/p`` [ZORDER BY (c, …)] [INTO n FILES]`
  * (parsed by [[GraftSqlParser]]) →
  * [[graft.operators.VersionedTable.compact]] (no ZORDER clause) or
  * [[graft.operators.VersionedTable.optimizeZOrder]] — a
  * content-identical new version, history intact, first-writer-wins.
  * ZORDER without an explicit file count targets the session's
  * shuffle parallelism (one output file per shuffle partition — the
  * same width the rewrite's range exchange runs at). Returns the new
  * version. */
case class VTabOptimizeCommand(root: String, zCols: Seq[String],
    nFiles: Int) extends LeafRunnableCommand {
  import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference}
  import org.apache.spark.sql.types.LongType
  override val output: Seq[Attribute] =
    Seq(AttributeReference("new_version", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    import graft.operators.VersionedTable
    val v =
      if (zCols.isEmpty) VersionedTable.compact(spark, root, nFiles)
      else VersionedTable.optimizeZOrder(spark, root, zCols,
        if (nFiles > 0) nFiles
        else spark.sessionState.conf.numShufflePartitions)
    Seq(Row(v))
  }
}

/** Routed `CREATE TABLE <name> USING vtab LOCATION '/p'` (claimed by
  * [[GraftSqlParser]] — Spark's ResolveSessionCatalog would otherwise
  * reject the unknown `vtab` provider before any resolution rule
  * runs): binds the name in [[graft.operators.VTabCatalog]] at
  * EXECUTION time (EXPLAIN shows the command without binding) — the
  * DDL twin of `vtab_register`. Creating is metadata-only: the
  * location may already hold committed versions (an attach) or be
  * empty (the first INSERT creates v1). */
case class VTabRegisterCommand(name: String, root: String,
    ifNotExists: Boolean = false) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    graft.operators.VTabCatalog.resolve(name) match {
      // CREATE TABLE semantics, not vtab_register's repoint: an
      // existing binding is an ERROR (or a no-op under IF NOT EXISTS)
      // — silently repointing a name to a different root would make
      // every later query read a different table
      case Some(cur) if ifNotExists => ()
      case Some(cur) => throw new IllegalArgumentException(
        s"CREATE TABLE $name USING vtab: the name is already bound " +
          s"(to '$cur') — DROP TABLE $name first, use IF NOT EXISTS, " +
          "or repoint explicitly with vtab_register")
      case None => graft.operators.VTabCatalog.register(name, root)
    }
    Seq.empty
  }
}

/** Routed `DROP TABLE <registered-name>`: removes the
  * [[graft.operators.VTabCatalog]] binding at EXECUTION time (EXPLAIN
  * shows the command without unregistering). Table DATA is never
  * touched — the name is metadata; reclaiming data dirs is
  * [[graft.operators.VersionedTable.vacuum]]'s job. */
case class VTabUnregisterCommand(name: String) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    graft.operators.VTabCatalog.unregister(name)
    Seq.empty
  }
}

/** Opaque carrier for a deliberately-UNRESOLVED condition riding on a
  * routed DML command: a bare `Expression` field would surface in the
  * command's `expressions` traversal and CheckAnalysis would reject
  * its unresolved column refs — but these conditions are MEANT to
  * resolve later, by name, against the snapshot frame the command
  * builds at execution time. */
case class VTabExpr(e: Expression)
