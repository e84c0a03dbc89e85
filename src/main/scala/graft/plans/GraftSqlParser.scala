package graft.plans

import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedIdentifier,
  UnresolvedRelation, UnresolvedTable}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.{AddCheckConstraint,
  CreateTable, CreateTableAsSelect, DropConstraint, LogicalPlan,
  TableSpecBase, UnresolvedTableSpec}
import org.apache.spark.sql.execution.command.ExplainCommand
import org.apache.spark.sql.types.{DataType, StructType}

/** Delegating SQL parser for the versioned-table (vtab) statements.
  * Spark's grammar lacks four Delta-style verbs — VACUUM, OPTIMIZE,
  * DESCRIBE HISTORY and RESTORE (reference docs/数据湖.md's managed-lake
  * maintenance) — so they, and EXPLAIN of them, are the only text this
  * parser claims by regex:
  * {{{
  *   VACUUM vtab.`/p` [RETAIN 5 VERSIONS]       -- default keeps 2
  *   OPTIMIZE vtab.`/p` [ZORDER BY (a, b)] [INTO 8 FILES]
  *   DESCRIBE HISTORY vtab.`/p`                 -- one row per version
  *   RESTORE vtab.`/p` TO VERSION AS OF 3       -- rollback as a NEW version
  * }}}
  * Every other statement is Spark's own parse. Three of its plans are
  * mapped onto routed commands; every other plan is returned untouched:
  * {{{
  *   ALTER TABLE dws.inv ADD CONSTRAINT c CHECK (v >= 0)  -- AddCheckConstraint
  *   ALTER TABLE dws.inv DROP CONSTRAINT c                -- DropConstraint
  *   CREATE TABLE dws.inv USING vtab LOCATION '/p'        -- CreateTable
  * }}}
  * A target is a `vtab.`/path`` identifier or a registered name
  * ([[graft.operators.VTabCatalog]]); ALTER TABLE on any other target
  * stays Spark's. CREATE … USING vtab is mapped here because Spark's
  * ResolveSessionCatalog rejects the unknown provider before any
  * injected resolution rule could route it. Every claimed statement is
  * a LeafRunnableCommand that works at EXECUTION time, so EXPLAIN never
  * binds, deletes or rewrites anything. Retention safety lives in
  * [[graft.operators.VersionedTable.vacuum]], which VACUUM calls
  * unchanged. */
class GraftSqlParser(delegate: ParserInterface) extends ParserInterface {

  private val identP = "(vtab\\.`[^`]+`|[A-Za-z_][A-Za-z0-9_.]*)"
  private val vacuumRe = ("(?is)^\\s*VACUUM\\s+" + identP +
    "(?:\\s+RETAIN\\s+(\\d+)\\s+VERSIONS)?\\s*;?\\s*$").r
  private val optimizeRe = ("(?is)^\\s*OPTIMIZE\\s+" + identP +
    "(?:\\s+ZORDER\\s+BY\\s*\\(([^)]*)\\))?" +
    "(?:\\s+INTO\\s+(\\d+)\\s+FILES)?\\s*;?\\s*$").r
  // DESCRIBE HISTORY <target> — Delta's verb. Claimed ONLY for
  // vtab-resolvable targets: `DESC history <col>` is VALID Spark
  // syntax (describe a column of a table literally named `history`),
  // so an unconditional claim would hijack it.
  private val historyRe = ("(?is)^\\s*DESC(?:RIBE)?\\s+HISTORY\\s+" +
    identP + "\\s*;?\\s*$").r
  // RESTORE [TABLE] <target> [TO] VERSION AS OF n — Delta's verb,
  // absent from Spark's grammar (any unclaimed target would be a
  // parse error either way, like VACUUM)
  private val restoreRe = ("(?is)^\\s*RESTORE\\s+(?:TABLE\\s+)?" +
    identP + "\\s+(?:TO\\s+)?VERSION\\s+AS\\s+OF\\s+(\\d+)\\s*;?\\s*$").r
  private val explainRe = ("(?is)^\\s*EXPLAIN\\s+" +
    "((?:VACUUM|OPTIMIZE|RESTORE|DESC(?:RIBE)?\\s+HISTORY)\\b[\\s\\S]*)$").r

  private def vtabTarget(ident: String): Boolean =
    ident.startsWith("vtab.`") ||
      graft.operators.VTabCatalog.resolve(ident).isDefined

  private def rootOf(ident: String): String =
    if (ident.startsWith("vtab.`"))
      ident.stripPrefix("vtab.`").stripSuffix("`")
    else graft.operators.VTabCatalog.resolve(ident).getOrElse(
      throw new IllegalArgumentException(
        s"'$ident' is neither a vtab.`/path` " +
          "identifier nor a registered vtab name (vtab_register first)"))

  private def claimed(sqlText: String): Option[LogicalPlan] =
    explainRe.findFirstMatchIn(sqlText) match {
      case Some(m) =>
        claimed(m.group(1)).map(inner =>
          ExplainCommand(inner, org.apache.spark.sql.execution.SimpleMode))
      case None =>
        vacuumRe.findFirstMatchIn(sqlText).map { m =>
          VTabVacuumCommand(rootOf(m.group(1)),
            Option(m.group(2)).map(_.toInt).getOrElse(2))
        }.orElse(optimizeRe.findFirstMatchIn(sqlText).map { m =>
          val cols = Option(m.group(2)).toSeq
            .flatMap(_.split(',').iterator)
            .map(_.trim.stripPrefix("`").stripSuffix("`"))
            .filter(_.nonEmpty)
          VTabOptimizeCommand(rootOf(m.group(1)), cols,
            Option(m.group(3)).map(_.toInt).getOrElse(0))
        }).orElse(historyRe.findFirstMatchIn(sqlText)
          .filter(m => vtabTarget(m.group(1))).map { m =>
            VTabHistoryCommand(rootOf(m.group(1)))
        }).orElse(restoreRe.findFirstMatchIn(sqlText).map { m =>
          VTabRestoreCommand(rootOf(m.group(1)), m.group(2).toLong)
        })
    }

  /** The root of an ALTER TABLE plan's vtab-resolvable target. */
  private object VTab {
    def unapply(table: LogicalPlan): Option[String] = table.collectFirst {
      case u: UnresolvedRelation => u.multipartIdentifier
      case u: UnresolvedTable => u.multipartIdentifier
    }.map {
      case Seq(v, path) if v.equalsIgnoreCase("vtab") && path.contains("/") =>
        s"vtab.`$path`"
      case parts => parts.mkString(".")
    }.filter(vtabTarget).map(rootOf)
  }

  private object VTabSpec {
    def unapply(spec: TableSpecBase): Option[UnresolvedTableSpec] =
      Some(spec).collect { case s: UnresolvedTableSpec
        if s.provider.exists(_.equalsIgnoreCase("vtab")) => s }
  }

  /** `CREATE TABLE name USING vtab LOCATION '<root>'`: the LOCATION
    * must be the ONLY clause — anything else is a loud refusal, never
    * a silently-dropped clause. */
  private def vtabCreate(name: String, columns: Boolean,
      spec: UnresolvedTableSpec, partitioned: Boolean, asSelect: Boolean,
      ifNotExists: Boolean): VTabRegisterCommand = {
    require(!columns, s"CREATE TABLE $name USING vtab: column lists are " +
      "not supported — the versioned manifest records the schema per " +
      "commit (the first INSERT defines it)")
    val extra = Seq("AS SELECT" -> asSelect,
      "PARTITIONED BY / CLUSTERED BY" -> partitioned,
      "TBLPROPERTIES" -> spec.properties.nonEmpty,
      "OPTIONS" -> spec.optionExpression.options.nonEmpty,
      "COMMENT" -> spec.comment.isDefined,
      "DEFAULT COLLATION" -> spec.collation.isDefined,
      "ROW FORMAT / STORED AS" -> spec.serde.isDefined,
      "EXTERNAL" -> spec.external).collect { case (c, true) => c }
    VTabRegisterCommand(name, spec.location.filter(_ => extra.isEmpty)
      .getOrElse(throw new IllegalArgumentException(
        s"CREATE TABLE $name USING vtab supports exactly one clause: " +
          "LOCATION '<path>' (the versioned-table root) — got: " +
          (if (extra.isEmpty) "no LOCATION" else extra.mkString(", ")) +
          ". INSERT INTO the table after binding it")), ifNotExists)
  }

  /** Spark's parse of a vtab DDL statement, mapped onto its routed
    * command; every other plan is returned untouched. */
  private def mapped(plan: LogicalPlan): LogicalPlan = plan match {
    case e: ExplainCommand =>
      val inner = mapped(e.logicalPlan)
      if (inner eq e.logicalPlan) e else e.copy(logicalPlan = inner)
    case AddCheckConstraint(VTab(root), c) =>
      require(c.userProvidedName != null,
        "a vtab CHECK needs a name: ADD CONSTRAINT <name> CHECK (…)")
      val ch = Option(c.userProvidedCharacteristic).toSeq.flatMap(ch =>
        ch.enforced.map(if (_) "ENFORCED" else "NOT ENFORCED") ++
          ch.rely.map(if (_) "RELY" else "NORELY"))
      require(ch.isEmpty, s"ADD CONSTRAINT ${c.userProvidedName}: " +
        s"${ch.mkString(" ")} is not supported — every write enforces " +
        "a vtab CHECK")
      VTabConstraintCommand(root, c.userProvidedName, Some(c.condition))
    case DropConstraint(VTab(root), name, ifExists, cascade) =>
      require(!ifExists && !cascade, s"DROP CONSTRAINT $name: IF EXISTS " +
        "and CASCADE are not supported on a vtab")
      VTabConstraintCommand(root, name, None)
    case CreateTable(UnresolvedIdentifier(n, _), cols, part,
        VTabSpec(spec), ifNotExists) =>
      vtabCreate(n.mkString("."), cols.nonEmpty, spec, part.nonEmpty,
        asSelect = false, ifNotExists)
    case CreateTableAsSelect(UnresolvedIdentifier(n, _), part, _,
        VTabSpec(spec), _, ifNotExists, _) =>
      vtabCreate(n.mkString("."), columns = false, spec, part.nonEmpty,
        asSelect = true, ifNotExists)
    case _ => plan
  }

  override def parsePlan(sqlText: String): LogicalPlan =
    claimed(sqlText).getOrElse(mapped(delegate.parsePlan(sqlText)))

  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(
      sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseQuery(sqlText: String): LogicalPlan =
    delegate.parseQuery(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String): DataType =
    delegate.parseDataType(sqlText)
}
