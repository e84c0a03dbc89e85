package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Warehouse-construction operators: layered catalog, partitioned
  * storage, updatable-table semantics (SURVEY.md §1.1, §2.1).
  *
  * The reference's warehouse is ODS→DWD→DWS→ADS layers of dt-partitioned
  * Hive tables (reference docs/实时数仓.md:57-73, docs/HiveSQL.md:42-63)
  * plus Kudu for the one thing append-only storage lacks: updates
  * (reference docs/kudu.md:19). Here: parquet + dynamic partition
  * overwrite gives the same upsert granularity (partition-level MERGE),
  * which is how accumulating snapshots and SCD2 dims behave at 100 TB —
  * rewrite only the partitions that changed, never the table.
  */
object Warehouse {

  val layers: Seq[String] = Seq("ods", "dwd", "dws", "ads")

  /** Create the layer databases (idempotent). */
  def createLayers(spark: SparkSession): Unit =
    layers.foreach(l => spark.sql(s"CREATE DATABASE IF NOT EXISTS $l"))

  /** S3/S5: write a dt-partitioned table; `dynamic` overwrite replaces
    * only the partitions present in `df` (Hive dynamic-partition-insert
    * semantics, reference docs/HiveSQL.md:60-63). */
  def writePartitioned(df: DataFrame, path: String, partCols: Seq[String],
      overwriteDynamic: Boolean = false): Unit = {
    val spark = df.sparkSession
    spark.conf.set("spark.sql.sources.partitionOverwriteMode",
      if (overwriteDynamic) "dynamic" else "static")
    df.write
      .mode(if (overwriteDynamic) SaveMode.Overwrite else SaveMode.Append)
      .partitionBy(partCols: _*)
      .parquet(path)
  }

  /** S4: CTAS into the session catalog. */
  def ctas(spark: SparkSession, table: String, query: String): Unit =
    spark.sql(s"CREATE TABLE $table USING parquet AS $query")

  /** Drop a managed table AND its warehouse directory — a stale dir
    * from an earlier JVM (fresh derby metastore, surviving
    * spark-warehouse) otherwise fails saveAsTable/CTAS with
    * LOCATION_ALREADY_EXISTS. */
  def dropManaged(spark: SparkSession, table: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    // 1-part (current db), 2-part (db.t), and 3-part (catalog.db.t)
    // identifiers all resolve; the `default` db maps to the warehouse
    // root, named dbs to `<db>.db/`.
    val parts = table.split("\\.")
    val (db, t) = parts.length match {
      case 1 => (spark.catalog.currentDatabase, parts(0))
      case _ => (parts(parts.length - 2), parts.last)
    }
    val dbDir = if (db == "default") wh else s"$wh/$db.db"
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(s"$dbDir/$t"))
  }

  /** Accumulating-snapshot upsert (reference docs/数据模型.md:21-25):
    * new measurements for existing keys replace old rows. Partition-
    * level merge: only partitions carrying updates are rewritten.
    * `versionCol` decides the winner (latest wins). Winner selection
    * is the bounded-heap [[graft.plans.TopKPerGroup]] (k=1), not a
    * row_number window: partial heaps reduce each key MAP-SIDE, so a
    * hot key with a deep version history costs one buffered row per
    * input partition instead of one window task holding its whole
    * history. (Ties on `versionCol` were order-dependent under the
    * window form too — the contract is a unique version per key.) */
  def upsertByKey(existing: DataFrame, updates: DataFrame,
      keys: Seq[String], versionCol: String): DataFrame =
    graft.plans.TopKPerGroup.topKPerGroup(
      existing.unionByName(updates), keys.map(col),
      Seq(desc(versionCol)), 1)

  /** Write a table BUCKETED (and sorted) by its join key: two tables
    * bucketed the same way co-locate their keys, so a later join needs
    * NO shuffle on either side — at 100 TB this turns the nightly
    * fact-dim join from two full-table exchanges into a local merge
    * (the "reduce join is a shuffle you can pre-pay" move; reference
    * docs/sql调优.md:194 names the shuffle as the cost center). */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String,
      numBuckets: Int): Unit = {
    dropManaged(df.sparkSession, table)
    df.write
      .bucketBy(numBuckets, bucketCol)
      .sortBy(bucketCol)
      .saveAsTable(table)
  }

  /** ANSI `MERGE INTO` semantics as a declarative transform — the
    * statement surface of the reference's updatable accumulating
    * snapshot (docs/数据模型.md:25) and Kudu upsert story
    * (docs/kudu.md:19), usable wherever a `MERGE INTO t USING s ON ...
    * WHEN MATCHED [AND cond] THEN UPDATE/DELETE WHEN NOT MATCHED THEN
    * INSERT` would run. Plain parquet has no row-level update, so the
    * result is returned as a DataFrame; persist partition-level with
    * [[mergeIntoPartitioned]]/[[writePartitioned]] (only partitions
    * carrying changes rewrite).
    *
    * Conventions: `whenMatchedUpdate` maps target column name → new
    * value expression over aliases `t` (target) / `s` (source);
    * unlisted columns keep the target value. `whenMatchedDelete` (also
    * over `t`/`s`) removes matching rows instead of updating them.
    * Source keys must be unique — ANSI MERGE raises on a double-match,
    * and `assertSourceUnique = true` enforces exactly that (a
    * count-over-keys guard that `raise_error`s on the first duplicate
    * instead of silently fanning the target row out); it costs one
    * extra exchange on the merge keys, so it is opt-in. Null keys
    * never match (ANSI `ON t.k = s.k` semantics).
    *
    * Scale shape: ONE full-outer equi-join shuffle on the merge keys
    * carries all three branches — matched rows update (or drop on the
    * delete condition), target-only rows pass through, source-only
    * rows insert — decided per-row with presence markers, so the
    * target is scanned and shuffled exactly once (a branch-per-join
    * formulation re-shuffles it per branch); nothing driver-side, no
    * row-level RMW. At 100 TB this is the same cost as the join the
    * user already pays for the update set. */
  def mergeInto(target: DataFrame, source: DataFrame, keys: Seq[String],
      whenMatchedUpdate: Map[String, Column],
      whenNotMatchedInsert: Boolean = true,
      whenMatchedDelete: Option[Column] = None,
      assertSourceUnique: Boolean = false): DataFrame = {
    val cols = target.columns
    val src =
      if (!assertSourceUnique) source
      else {
        // per-key counts as a partial-aggregating groupBy joined back,
        // NOT a count window: the window form funnels each key's rows
        // into one task — and the pathological key is exactly the one
        // this assertion exists to catch
        val nByKey = source.groupBy(keys.map(col): _*)
          .agg(count(lit(1)).as("__n"))
        source.join(nByKey, keys)
          .filter(when(col("__n") > 1, raise_error(concat(
              lit("mergeInto: duplicate source key ("),
              concat_ws(",", keys.map(k => col(k).cast("string")): _*),
              lit(") — ANSI MERGE forbids multiple matches"))))
            .otherwise(lit(true)))
          .drop("__n")
      }
    val t = target.withColumn("__t", lit(true)).alias("t")
    val s = src.withColumn("__s", lit(true)).alias("s")
    val cond = keys.map(k => col(s"t.$k") === col(s"s.$k")).reduce(_ && _)
    val matched = col("t.__t").isNotNull && col("s.__s").isNotNull
    val deleted = whenMatchedDelete
      .map(d => matched && coalesce(d, lit(false)))
      .getOrElse(lit(false))
    t.join(s, cond, "full_outer")
      .filter(!deleted)
      .filter(col("t.__t").isNotNull || lit(whenNotMatchedInsert))
      .select(cols.map(c =>
        when(matched, whenMatchedUpdate.getOrElse(c, col(s"t.$c")))
          .otherwise(when(col("t.__t").isNotNull, col(s"t.$c"))
            .otherwise(col(s"s.$c"))).as(c)): _*)
  }

  /** `MERGE INTO` as SQL text over plain frames — the reference's
    * updatable-snapshot statement (docs/数据模型.md:25,
    * docs/kudu.md:19) run verbatim against parquet-backed frames, which
    * Spark itself merges into only as v2 tables. The session's parser
    * reads the text and [[graft.plans.MergeStatement]] — the front end
    * the vtab MERGE route shares — reads the plan; [[mergeInto]] runs it:
    *  - ON: a conjunction of same-name column equalities (the keys);
    *  - WHEN MATCHED [AND c] THEN DELETE / UPDATE SET c = e, … /
    *    UPDATE SET *, any number, ANSI first-match-wins (each matched
    *    row takes the first clause whose condition holds);
    *  - at most one unconditional WHEN NOT MATCHED THEN INSERT: `*`, or
    *    a list naming every target column as `s.<same column>`;
    *  - BY SOURCE clauses and schema evolution are refused.
    * Table names resolve from `tables` first, then the session catalog
    * (temp views included). */
  def mergeIntoSql(spark: SparkSession, mergeSql: String,
      tables: Map[String, DataFrame] = Map.empty): DataFrame = {
    import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute,
      UnresolvedRelation}
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan,
      MergeIntoTable, SubqueryAlias}
    import org.apache.spark.sql.graft.Bridge
    import graft.plans.MergeStatement
    import graft.plans.MergeStatement.{Delete, Insert, Update}
    val m = spark.sessionState.sqlParser.parsePlan(mergeSql) match {
      case p: MergeIntoTable => MergeStatement.read(p, "MERGE")
      case _ => throw new IllegalArgumentException(
        s"not a MERGE INTO statement:\n$mergeSql")
    }
    def frame(p: LogicalPlan): DataFrame = p match {
      case SubqueryAlias(_, child) => frame(child)
      case u: UnresolvedRelation =>
        val n = u.multipartIdentifier.mkString(".")
        tables.getOrElse(n, spark.table(n))
      case other => throw new IllegalArgumentException(
        s"MERGE over frames names its target and source tables, got: $other")
    }
    val target = frame(m.target)
    val source = frame(m.source)
    require(!m.bySource && !m.schemaEvolution,
      "MERGE over frames supports neither WHEN NOT MATCHED BY SOURCE " +
        "nor WITH SCHEMA EVOLUTION")
    val cols = target.columns
    def targetCol(n: String): String = cols.find(_.equalsIgnoreCase(n))
      .getOrElse(throw new IllegalArgumentException(
        s"SET column not in target: $n"))
    val insert = m.inserts match {
      case Seq() => false
      case Seq(Insert(None, values)) =>
        // mergeInto inserts the whole source row, where ANSI leaves an
        // unlisted column NULL
        values.foreach { vs =>
          val unlisted = cols.filterNot(c => vs.exists(_._1.equalsIgnoreCase(c)))
          require(unlisted.isEmpty && vs.forall {
              case (c, UnresolvedAttribute(Seq("s", v))) => c.equalsIgnoreCase(v)
              case (c, UnresolvedAttribute(Seq(v))) => c.equalsIgnoreCase(v)
              case _ => false
            }, "INSERT list must name every target column as its identity " +
              "source column (c = s.c); unlisted: " + unlisted.mkString(", "))
        }
        true
      case _ => throw new IllegalArgumentException(
        "MERGE over frames supports one unconditional WHEN NOT MATCHED " +
          "THEN INSERT")
    }
    // each WHEN MATCHED clause with the target columns it sets
    val clauses = m.matched.map { cl => cl -> (cl match {
      case Update(_, None) => cols.map(c => c -> col(s"s.$c")).toMap
      case Update(_, Some(set)) =>
        set.map { case (k, v) => targetCol(k) -> Bridge.column(v) }.toMap
      case _: Delete => Map.empty[String, Column]
    }) }
    // ANSI first-match-wins: each decision is one CASE over the clauses
    // in statement order (a NULL condition does not match)
    def firstMatch(pick: (MergeStatement.Matched, Map[String, Column]) => Column,
        otherwise: Column): Column =
      clauses.foldRight(otherwise) { case ((cl, set), rest) =>
        when(Bridge.column(cl.cond.getOrElse(Literal.TrueLiteral)),
          pick(cl, set)).otherwise(rest)
      }
    val updates = cols.filter(c => clauses.exists(_._2.contains(c)))
      .map(c => c -> firstMatch((_, set) => set.getOrElse(c, col(s"t.$c")),
        col(s"t.$c"))).toMap
    val delete =
      if (!m.matched.exists(_.isInstanceOf[Delete])) None
      else Some(firstMatch((cl, _) => lit(cl.isInstanceOf[Delete]), lit(false)))
    mergeInto(target, source, m.keys, updates,
      whenNotMatchedInsert = insert, whenMatchedDelete = delete)
  }

  /** Partition-level MERGE into a partitioned parquet table: the
    * updatable-storage capability plain parquet lacks (Kudu's role in
    * the reference, docs/kudu.md:19; accumulating snapshots,
    * docs/数据模型.md:25). Only partitions PRESENT IN THE UPDATE SET
    * are read, merged via [[upsertByKey]], and dynamically overwritten —
    * at 100 TB a day's corrections rewrite a day's partitions, never
    * the table. */
  def mergeIntoPartitioned(spark: SparkSession, path: String,
      updates: DataFrame, keys: Seq[String], versionCol: String,
      partCol: String): Unit = {
    val target = new org.apache.hadoop.fs.Path(path)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    withMergeLock(fs, target) {
      val (tmp, partDirs) =
        mergePrepare(spark, path, updates, keys, versionCol, partCol)
      completeMergeSwap(fs, target, tmp, partDirs)
    }
  }

  private val mergeLockName = "_graft_merge_lock"

  /** SINGLE-WRITER lease for the merge protocol. Two concurrent
    * mergers of the same table would race the side dir (both write
    * `<path>__merge_tmp`) and the manifest slot; the loser's commit
    * record could be rolled forward over the winner's. The lease is an
    * atomic create-exclusive of `_graft_merge_lock` in the target dir
    * (the rename-based manifest install is atomic for a SINGLE writer;
    * exclusion is what extends crash-safety to multiple schedulers —
    * same division of labor as Delta/Iceberg's lock-or-CAS commit
    * step). A second writer fails FAST with a clear error rather than
    * corrupting; a lease older than `staleLockMs` (a dead writer — its
    * manifest, if committed, rolls forward on the next entry anyway)
    * is broken and re-acquired. */
  private def withMergeLock[T](fs: org.apache.hadoop.fs.FileSystem,
      target: org.apache.hadoop.fs.Path,
      staleLockMs: Long = 30 * 60 * 1000L)(body: => T): T = {
    val lock = new org.apache.hadoop.fs.Path(target, mergeLockName)
    // the lease carries its owner's identity so RELEASE can verify
    // ownership: an unconditional delete would let a writer whose
    // stale-looking lease was broken mid-run delete the BREAKER's
    // fresh lock on exit, cascading the double-writer window onward
    val ownerId = java.util.UUID.randomUUID().toString
    def tryAcquire(): Boolean =
      try {
        val out = fs.create(lock, false) // atomic create-exclusive
        try out.write(s"$ownerId\n".getBytes("UTF-8"))
        finally out.close()
        true
      } catch { case _: java.io.IOException => false }
    def lockOwner(): Option[String] =
      try {
        val in = fs.open(lock)
        try Some(scala.io.Source.fromInputStream(in, "UTF-8")
          .mkString.trim)
        finally in.close()
      } catch { case _: java.io.IOException => None }
    var acquired = tryAcquire()
    if (!acquired) {
      val age = try System.currentTimeMillis() -
        fs.getFileStatus(lock).getModificationTime
      catch { case _: java.io.FileNotFoundException => Long.MaxValue }
      if (age > staleLockMs) {
        // break by ATOMIC RENAME to a unique name, not delete: with
        // delete, two waiters that both saw the stale lease could
        // interleave as (A deletes, A acquires, B deletes A's FRESH
        // lock, B acquires) — two live writers. The rename can only
        // succeed for ONE breaker; the loser's rename throws (source
        // gone) and it falls through to a fair create-exclusive.
        val broken = new org.apache.hadoop.fs.Path(target,
          s".$mergeLockName.broken.$ownerId")
        val stole = try fs.rename(lock, broken)
          catch { case _: java.io.IOException => false }
        if (stole) {
          // re-verify on the STOLEN file: between our age check and
          // the rename, the stale lease may have been broken and
          // re-acquired by someone else — then we just stole a LIVE
          // lease and must give it back, never proceed on it
          val stolenAge = try System.currentTimeMillis() -
            fs.getFileStatus(broken).getModificationTime
          catch { case _: java.io.IOException => Long.MaxValue }
          if (stolenAge > staleLockMs) {
            fs.delete(broken, false)
            acquired = tryAcquire()
          } else if (!fs.rename(broken, lock))
            // a third waiter acquired while we held the stolen live
            // lease — the giveback cannot land; fail LOUDLY (the live
            // holder must be assumed running; proceeding or silently
            // swallowing would put two writers on the table)
            throw new java.io.IOException(
              s"merge lock: stole a live lease at $lock and could not " +
                "restore it (another writer acquired meanwhile); " +
                "manual check required")
        } else acquired = tryAcquire()
      }
    }
    if (!acquired)
      throw new java.io.IOException(
        s"merge lock held by another writer: $lock (a writer dead " +
          s"longer than ${staleLockMs / 60000} min is broken automatically)")
    try body
    finally {
      // Release ONLY on a positive ownership read. lockOwner() returns
      // None both for "absent" and for a transient read FAILURE — and
      // after our lease was broken as stale, the file may be another
      // writer's LIVE lock; deleting on a failed read would reopen the
      // double-writer window the ownership check exists to close. So:
      // retry the read a few times; if it never succeeds, leave the
      // lock for the stale-age breaker (worst case: a staleLockMs wait
      // for the next writer, never a second live writer).
      val owner = Iterator.range(0, 3)
        .map(_ => lockOwner())
        .collectFirst { case Some(o) => o }
      if (owner.contains(ownerId)) fs.delete(lock, false)
    }
  }

  /** Everything up to (and including) the merge manifest install: roll
    * forward any interrupted predecessor, compute the merged partitions
    * into a side dir, commit the swap record. Split from
    * [[mergeIntoPartitioned]] so crash-at-the-worst-moment is testable:
    * a caller that stops here has exactly the on-disk state of a merge
    * killed after its commit point. */
  private[graft] def mergePrepare(spark: SparkSession, path: String,
      updates: DataFrame, keys: Seq[String], versionCol: String,
      partCol: String): (String, Seq[String]) = {
    val target = new org.apache.hadoop.fs.Path(path)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    recoverMerge(spark, path)
    val parts = updates.select(partCol).distinct().collect()
      .map(_.get(0).toString)
    val existing = spark.read.parquet(path)
      .filter(col(partCol).cast("string").isin(parts: _*))
      // partition values read back type-inferred from the path; align
      // to the update frame's declared schema before the union
      .select(updates.columns.map(c =>
        col(c).cast(updates.schema(c).dataType)): _*)
    val merged = upsertByKey(existing, updates, keys, versionCol)
    // crash safety (same protocol as [[compactSmallFiles]]): the merged
    // partitions land FULLY in a side dir; the manifest is the commit
    // point ([[rollForward]]); the swap renames whole partition dirs
    // (atomic per partition on HDFS/local) — never a half-overwritten
    // partition, which dynamic-partition overwrite risks when its
    // deleting-and-rewriting job dies mid-partition.
    val tmp = path.stripSuffix("/") + "__merge_tmp"
    fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    merged.write.mode(SaveMode.Overwrite).partitionBy(partCol).parquet(tmp)
    val partDirs = fs.listStatus(new org.apache.hadoop.fs.Path(tmp))
      .filter(_.isDirectory).map(_.getPath.getName)
      .filter(_.startsWith(s"$partCol=")).toSeq.sorted
    writeManifest(fs, target, tmp, partDirs, mergeManifestName)
    (tmp, partDirs)
  }

  private val mergeManifestName = "_graft_merge_manifest"

  /** Execute (or re-execute) the partition-directory swap a merge
    * manifest describes. Idempotent: deleting an already-replaced
    * partition dir and renaming an already-moved tmp dir are no-ops,
    * so it is safe after a crash at any point past manifest install. */
  private def completeMergeSwap(fs: org.apache.hadoop.fs.FileSystem,
      target: org.apache.hadoop.fs.Path, tmp: String,
      partDirs: Seq[String]): Unit = {
    partDirs.foreach { d =>
      val src = new org.apache.hadoop.fs.Path(tmp, d)
      if (fs.exists(src)) {
        fs.delete(new org.apache.hadoop.fs.Path(target, d), true)
        fs.rename(src, new org.apache.hadoop.fs.Path(target, d))
      }
    }
    fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    fs.delete(new org.apache.hadoop.fs.Path(target, mergeManifestName), false)
  }

  /** Roll forward an interrupted partitioned-merge swap, if any —
    * called on entry by every merge, callable standalone after a crash.
    * Same torn-write rules as [[recoverCompaction]] ([[rollForward]]).
    * Returns true only when a committed swap was rolled forward. */
  def recoverMerge(spark: SparkSession, dir: String): Boolean =
    rollForward(spark, dir, mergeManifestName, "__merge_tmp")(
      completeMergeSwap)

  /** SCD2 merge (reference docs/数据模型.md:41-46): close out changed
    * rows (set `valid_to`), append new versions open-ended; change rows
    * whose key has never been seen become brand-new open rows (anti-join
    * append — a left join from `current` alone would silently drop new
    * dimension members). Pure dataframe transform — caller persists with
    * `writePartitioned`. */
  def scd2Merge(dim: DataFrame, changes: DataFrame, key: String,
      attrCols: Seq[String], effectiveDate: String): DataFrame = {
    val openEnd = lit("9999-12-31")
    val ch = changes.select(
      (col(key) +: attrCols.map(col)) :+ col(effectiveDate).as("__eff"): _*)
    val current = dim.filter(col("valid_to") === openEnd)
    val history = dim.filter(col("valid_to") =!= openEnd)
    // keys with no OPEN row (brand-new, or present only as closed
    // history — e.g. a dim that retired the key): fresh open rows
    // (non-attr columns the changes can't supply → null cast to the
    // dim's type). Anti-joining against `current` rather than the whole
    // dim is what catches the history-only case.
    val dimTypes = dim.schema.map(f => f.name -> f.dataType).toMap
    val fresh = ch.join(current.select(key).distinct(), Seq(key), "left_anti")
      .select(dim.columns.map {
        case c if c == key => col(key)
        case "valid_from" => col("__eff").as("valid_from")
        case "valid_to" => openEnd.as("valid_to")
        case c if attrCols.contains(c) => col(c)
        case c => lit(null).cast(dimTypes(c)).as(c)
      }.toSeq: _*)
    val joined = current.as("c").join(ch.as("u"), Seq(key), "left")
    val changed = attrCols.map(a =>
      col(s"u.${a}") =!= col(s"c.${a}")).reduce(_ || _)
    val unchanged = joined.filter(col("__eff").isNull || !changed)
      .select(current.columns.map(c => col(s"c.$c")): _*)
    val closed = joined.filter(col("__eff").isNotNull && changed)
      .select((current.columns.map {
        case "valid_to" => col("__eff").as("valid_to")
        case c => col(s"c.$c")
      }): _*)
    val opened = joined.filter(col("__eff").isNotNull && changed)
      .select((current.columns.map {
        case "valid_from" => col("__eff").as("valid_from")
        case "valid_to" => openEnd.as("valid_to")
        case c if attrCols.contains(c) => col(s"u.$c").as(c)
        case c => col(s"c.$c")
      }): _*)
    history.unionByName(unchanged).unionByName(closed).unionByName(opened)
      .unionByName(fresh)
  }

  /** S9/T6: small-file compaction — rewrite a parquet directory into
    * ~`targetFileMB`-sized files. Only files present at listing time are
    * compacted (in-flight stream files keep landing untouched,
    * reference docs/实时数仓.md:99-101). Returns (filesBefore, filesAfter).
    *
    * Crash safety: the compacted output is fully written to a side dir
    * FIRST, then a manifest recording the swap (inputs to delete, tmp
    * dir to move in) lands in the target dir, and only then does the
    * swap run. A crash mid-swap leaves the manifest; the next
    * [[recoverCompaction]] (called here on entry) rolls the swap
    * FORWARD idempotently — no state loses data, because inputs are
    * only deleted after the manifest records their replacement. */
  def compactSmallFiles(spark: SparkSession, dir: String,
      targetFileMB: Int = 128): (Long, Long) = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    recoverCompaction(spark, dir)
    val files = fs.listStatus(path)
      .filter(f => f.getPath.getName.endsWith(".parquet"))
    val totalBytes = files.map(_.getLen).sum
    val nOut = math.max(1, (totalBytes / (targetFileMB * 1024L * 1024L)).toInt)
    val snapshot = files.map(_.getPath.toString)
    val df = spark.read.parquet(snapshot: _*)
    val tmp = dir.stripSuffix("/") + "__compact_tmp"
    fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    df.repartition(nOut).write.mode(SaveMode.Overwrite).parquet(tmp)
    writeManifest(fs, path, tmp, snapshot)
    completeSwap(fs, path, tmp, snapshot)
    val after = fs.listStatus(path)
      .count(f => f.getPath.getName.endsWith(".parquet"))
    (files.length.toLong, after.toLong)
  }

  private val manifestName = "_graft_compaction_manifest"
  private val manifestEnd = "#END:"

  /** The manifest is the swap's commit record, so its creation must be
    * all-or-nothing: write to a temp name, then rename into place
    * (atomic on HDFS and local fs). A trailing `#END:<n_inputs>` line
    * lets recovery prove the record is complete even if a non-atomic
    * store tears the write. */
  private def writeManifest(fs: org.apache.hadoop.fs.FileSystem,
      target: org.apache.hadoop.fs.Path, tmp: String,
      inputs: Seq[String], name: String = manifestName): Unit = {
    val mfTmp = new org.apache.hadoop.fs.Path(target, name + ".tmp")
    val out = fs.create(mfTmp, true)
    try out.write((tmp + "\n" + inputs.mkString("\n") +
      s"\n$manifestEnd${inputs.size}\n").getBytes("UTF-8"))
    finally out.close()
    // FileSystem.rename does NOT overwrite: a leftover manifest (e.g. a
    // concurrent compactor) would make the rename return false and the
    // new commit record silently fail to install — then a crash would
    // roll forward the STALE swap. Clear the destination and fail loudly
    // if the rename still doesn't land.
    val mf = new org.apache.hadoop.fs.Path(target, name)
    fs.delete(mf, false)
    if (!fs.rename(mfTmp, mf))
      throw new java.io.IOException(
        s"manifest install failed: rename $mfTmp -> $mf")
  }

  /** Execute (or re-execute) the swap a manifest describes: delete the
    * replaced inputs, move the tmp outputs in, drop manifest + tmp.
    * Every step is idempotent (delete of a gone file and move of an
    * already-moved file are no-ops), so it is safe after a crash at
    * any point past manifest creation. */
  private def completeSwap(fs: org.apache.hadoop.fs.FileSystem,
      target: org.apache.hadoop.fs.Path, tmp: String,
      inputs: Seq[String]): Unit = {
    inputs.foreach(f =>
      fs.delete(new org.apache.hadoop.fs.Path(f), false))
    val tmpPath = new org.apache.hadoop.fs.Path(tmp)
    if (fs.exists(tmpPath))
      fs.listStatus(tmpPath)
        .filter(_.getPath.getName.endsWith(".parquet"))
        .foreach(f => fs.rename(f.getPath,
          new org.apache.hadoop.fs.Path(target, f.getPath.getName)))
    fs.delete(tmpPath, true)
    fs.delete(new org.apache.hadoop.fs.Path(target, manifestName), false)
  }

  /** Roll forward an interrupted compaction swap, if any
    * ([[rollForward]]). Returns true only when a committed swap was
    * rolled forward. */
  def recoverCompaction(spark: SparkSession, dir: String): Boolean =
    rollForward(spark, dir, manifestName, "__compact_tmp")(completeSwap)

  /** The recovery of both side-dir swaps (manifest `name`, side dir
    * `<dir><tmpSuffix>`). A manifest without a matching `#END:<n>` is
    * torn — never committed, and a truncated list would delete data
    * without its replacement — so it and the side dir are dropped and
    * the target kept; a complete one is rolled FORWARD by `complete`. */
  private def rollForward(spark: SparkSession, dir: String, name: String,
      tmpSuffix: String)(complete: (org.apache.hadoop.fs.FileSystem,
        org.apache.hadoop.fs.Path, String, Seq[String]) => Unit): Boolean = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(path, name + ".tmp"), false)
    val mf = new org.apache.hadoop.fs.Path(path, name)
    if (!fs.exists(mf)) return false
    val in = fs.open(mf)
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    val lines = text.split("\n").filter(_.nonEmpty)
    val valid = lines.length >= 2 &&
      lines.last.startsWith(manifestEnd) &&
      lines.last.stripPrefix(manifestEnd).toIntOption
        .contains(lines.length - 2)
    if (!valid) {
      fs.delete(mf, false)
      fs.delete(new org.apache.hadoop.fs.Path(
        dir.stripSuffix("/") + tmpSuffix), true)
      return false
    }
    complete(fs, path, lines.head, lines.slice(1, lines.length - 1).toSeq)
    true
  }

  /** Narrow→wide tag-table pivot (reference docs/画像开发方案.md:28). */
  def narrowToWide(narrow: DataFrame, idCol: String, tagNameCol: String,
      tagValueCol: String, tags: Seq[String]): DataFrame =
    narrow.groupBy(idCol).pivot(tagNameCol, tags)
      .agg(first(col(tagValueCol)))

  /** Wide→narrow (unpivot via stack). */
  def wideToNarrow(wide: DataFrame, idCol: String,
      tagCols: Seq[String]): DataFrame = {
    val stackExpr = tagCols.map(c => s"'$c', cast(`$c` as string)")
      .mkString(", ")
    wide.selectExpr(idCol,
      s"stack(${tagCols.size}, $stackExpr) as (tag_name, tag_value)")
  }
}
