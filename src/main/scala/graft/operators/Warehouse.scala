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

  /** Thin `MERGE INTO` TEXT shim: parses the reference's
    * updatable-snapshot statement form (docs/数据模型.md:25,
    * docs/kudu.md:19) —
    * {{{
    * MERGE INTO tgt [AS] t USING src [AS] s ON t.k = s.k [AND ...]
    *   [WHEN MATCHED [AND cond] THEN DELETE]
    *   [WHEN MATCHED [AND cond] THEN UPDATE SET c = expr, ...]
    *   [WHEN NOT MATCHED THEN INSERT *]
    * }}}
    * — into [[mergeInto]], so a user can run the statement verbatim
    * against parquet-backed frames (Spark itself parses MERGE only for
    * v2 tables). Deliberately thin, not a SQL engine:
    *  - the ON clause must be a conjunction of `t.k = s.k` equalities
    *    with the SAME column name on both sides (the merge-key shape);
    *  - at most one UPDATE and one DELETE matched branch; ANSI
    *    first-match-wins ordering is honored (whichever branch comes
    *    second is gated on the negation of the first's condition);
    *  - INSERT takes the source row by target column names (`INSERT *`;
    *    an explicit `(cols) VALUES (s.cols)` list is accepted when it
    *    is that same identity mapping).
    * Table names resolve from `tables` first, then the session catalog
    * (temp views included). Update/condition expressions may use the
    * statement's own aliases — they are rewritten to the `t`/`s` the
    * underlying operator binds. */
  def mergeIntoSql(spark: SparkSession, mergeSql: String,
      tables: Map[String, DataFrame] = Map.empty): DataFrame = {
    val head = ("(?is)^\\s*MERGE\\s+INTO\\s+([\\w.]+)" +
      "(?:\\s+(?:AS\\s+)?(?!USING\\b)(\\w+))?" +
      "\\s+USING\\s+([\\w.]+)(?:\\s+(?:AS\\s+)?(?!ON\\b)(\\w+))?" +
      "\\s+ON\\s+(.+?)\\s+(WHEN\\s+.+?)\\s*;?\\s*$").r
    val m = head.findFirstMatchIn(mergeSql).getOrElse(throw
      new IllegalArgumentException(s"unparseable MERGE statement:\n$mergeSql"))
    val (tgtName, srcName) = (m.group(1), m.group(3))
    val tAlias = Option(m.group(2)).getOrElse(tgtName)
    val sAlias = Option(m.group(4)).getOrElse(srcName)
    def resolve(n: String) = tables.getOrElse(n, spark.table(n))
    val target = resolve(tgtName)
    val source = resolve(srcName)
    require(!tAlias.equalsIgnoreCase(sAlias),
      s"target and source aliases must differ: '$tAlias' vs '$sAlias'")
    // rewrite statement aliases to the operator's fixed t/s aliases —
    // in ONE pass over both aliases (two sequential replaceAlls would
    // re-rewrite the "t." just produced by the first pass whenever the
    // SOURCE alias is literally "t", silently reading source columns
    // where target ones were written), and never inside 'string
    // literals' (an alias-shaped substring in quoted text is data)
    val aliasRef = ("(?i)\\b(" + java.util.regex.Pattern.quote(tAlias) +
      "|" + java.util.regex.Pattern.quote(sAlias) + ")\\.").r
    val strLit = "'(?:[^']|'')*'".r
    def rebind(e: String): String = {
      def seg(u: String): String = aliasRef.replaceAllIn(u, mm =>
        if (mm.group(1).equalsIgnoreCase(tAlias)) "t." else "s.")
      val sb = new StringBuilder
      var last = 0
      strLit.findAllMatchIn(e).foreach { lm =>
        sb.append(seg(e.substring(last, lm.start))).append(lm.matched)
        last = lm.end
      }
      sb.append(seg(e.substring(last))).toString
    }
    val keys = m.group(5).split("(?i)\\s+AND\\s+").map(_.trim).map { eq =>
      val kv = "(?i)^(\\w+)\\.(\\w+)\\s*=\\s*(\\w+)\\.(\\w+)$".r
      val km = kv.findFirstMatchIn(eq).getOrElse(throw
        new IllegalArgumentException(s"ON term is not alias.col = alias.col: $eq"))
      require(km.group(2).equalsIgnoreCase(km.group(4)) &&
        Set(km.group(1), km.group(3)).map(_.toLowerCase) ==
          Set(tAlias, sAlias).map(_.toLowerCase),
        s"ON term must equate the same column across target/source: $eq")
      km.group(2)
    }.toSeq
    // split and classify the WHEN clauses (first-match-wins order)
    case class Upd(cond: Option[String], sets: String)
    var upd: Option[Upd] = None
    var del: Option[Option[String]] = None // Some(cond-opt) when present
    var updBeforeDel = false
    var insert = false
    m.group(6).split("(?i)(?=\\bWHEN\\b)").map(_.trim).filter(_.nonEmpty)
      .foreach { c =>
        val mu = ("(?is)^WHEN\\s+MATCHED(?:\\s+AND\\s+(.+?))?\\s+THEN\\s+" +
          "UPDATE\\s+SET\\s+(.+)$").r.findFirstMatchIn(c)
        val md = "(?is)^WHEN\\s+MATCHED(?:\\s+AND\\s+(.+?))?\\s+THEN\\s+DELETE\\s*$"
          .r.findFirstMatchIn(c)
        val mi = ("(?is)^WHEN\\s+NOT\\s+MATCHED\\s+THEN\\s+INSERT\\s*" +
          "(\\*|\\([^)]*\\)\\s*VALUES\\s*\\([^)]*\\))\\s*$").r.findFirstMatchIn(c)
        (mu, md, mi) match {
          case (Some(u), _, _) =>
            require(upd.isEmpty, "at most one WHEN MATCHED ... UPDATE branch")
            upd = Some(Upd(Option(u.group(1)), u.group(2)))
            updBeforeDel = del.isEmpty
          case (_, Some(d), _) =>
            require(del.isEmpty, "at most one WHEN MATCHED ... DELETE branch")
            del = Some(Option(d.group(1)))
          case (_, _, Some(i)) =>
            val ins = i.group(1).trim
            if (ins != "*") {
              val colsVals = "(?is)^\\(([^)]*)\\)\\s*VALUES\\s*\\(([^)]*)\\)$"
                .r.findFirstMatchIn(ins).get
              val cs = colsVals.group(1).split(",").map(_.trim.toLowerCase)
              val vs = colsVals.group(2).split(",")
                .map(v => rebind(v.trim).toLowerCase)
              require(cs.length == vs.length &&
                  cs.zip(vs).forall { case (cn, vn) =>
                    vn == s"s.$cn" || vn == cn },
                s"INSERT list must be the identity source mapping: $ins")
            }
            insert = true
          case _ => throw new IllegalArgumentException(
            s"unsupported MERGE clause: $c")
        }
      }
    // ANSI first-match-wins order: a DELETE after an UPDATE only sees
    // rows the UPDATE's condition rejected — and an UNCONDITIONAL
    // UPDATE captures every matched row, making a later DELETE
    // unreachable (the reverse directions fall out of the underlying
    // operator: deletes are applied before updates there, so a DELETE
    // written first always outranks the update branch)
    val delCond = del.flatMap { dc =>
      if (updBeforeDel && upd.exists(_.cond.isEmpty)) None
      else {
        val base = dc.map(c => expr(rebind(c))).getOrElse(lit(true))
        Some(if (updBeforeDel && upd.exists(_.cond.nonEmpty))
          base && !coalesce(expr(rebind(upd.get.cond.get)), lit(false))
        else base)
      }
    }
    // conditional UPDATE: non-matching rows keep target values
    val updates: Map[String, Column] = upd.map { u =>
      splitTopLevel(u.sets).map { a =>
        val Array(lhs, rhs) = a.split("=", 2)
        // the rest of the parser is case-insensitive, so the alias
        // strip must be too ('SET T.x = ...' under alias 't'); an
        // unknown SET column would otherwise be a silent no-op
        // (mergeInto ignores unlisted names) — raise instead
        val stripped = lhs.trim
        val name = Seq(s"$tAlias.", "t.").foldLeft(stripped) { (n, p) =>
          if (n.length > p.length &&
            n.substring(0, p.length).equalsIgnoreCase(p))
            n.substring(p.length) else n
        }
        val resolved = target.columns.find(_.equalsIgnoreCase(name))
          .getOrElse(throw new IllegalArgumentException(
            s"SET column not in target: $stripped"))
        val value = expr(rebind(rhs.trim))
        resolved -> u.cond.map(c =>
            when(coalesce(expr(rebind(c)), lit(false)), value)
              .otherwise(col(s"t.$resolved")))
          .getOrElse(value)
      }.toMap
    }.getOrElse(Map.empty)
    mergeInto(target, source, keys, updates,
      whenNotMatchedInsert = insert, whenMatchedDelete = delCond)
  }

  /** Split on commas not nested inside parentheses or 'string literals'
    * (SET lists whose expressions contain function calls or quoted
    * text). A doubled '' escape toggles the quote state twice — net
    * unchanged — so it stays inside the literal, as SQL requires. */
  private def splitTopLevel(s: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer[String]()
    var depth = 0
    var inQuote = false
    var start = 0
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\'') inQuote = !inQuote
      else if (!inQuote) c match {
        case '(' => depth += 1
        case ')' => depth -= 1
        case ',' if depth == 0 =>
          out += s.substring(start, i); start = i + 1
        case _ =>
      }
      i += 1
    }
    out += s.substring(start)
    out.map(_.trim).filter(_.nonEmpty).toSeq
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
