package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}
import org.apache.hadoop.fs.{FileSystem, Path}
import scala.jdk.CollectionConverters._

/** Minimal versioned table format: append/overwrite commits as numbered
  * manifests over immutable data directories — the lakehouse commit
  * protocol (Delta/Iceberg's log-of-snapshots idea, reference
  * docs/数据湖.md's managed-data-lake requirements) re-expressed with
  * nothing but a filesystem and Spark's parquet reader.
  *
  * Layout under a table root:
  * {{{
  *   <root>/data/<commit-uuid>/part-*.parquet   — immutable once committed
  *   <root>/_vlog/v00001.manifest               — one data dir per line,
  *                                                `#END:<n>` terminator
  * }}}
  *
  * Semantics:
  *  - a manifest version is COMMITTED iff its `#END:<n>` terminator
  *    matches its line count; manifests become visible atomically WITH
  *    their content (hard link on local FS, tmp+rename elsewhere), so
  *    a torn slot cannot exist mid-protocol — a torn file is crash
  *    debris, ignored by readers and cleared by the next writer;
  *  - readers resolve the highest committed version (or an explicit
  *    `asOf`) and read exactly the data dirs it lists → snapshot
  *    isolation: a reader planned at version v never sees later
  *    commits, and concurrent commits never disturb running reads
  *    (data dirs are immutable, never rewritten in place);
  *  - writers claim STRICTLY version latest_committed + 1 with an
  *    atomic create-if-absent — optimistic concurrency: winning the
  *    slot proves no commit landed since the writer read `latest` (so
  *    its rebase is fresh — no lost updates), and losers re-read and
  *    retry; data lands fully under `data/` BEFORE the manifest
  *    install, so a crash at any point leaves either an invisible
  *    orphan dir or a complete commit;
  *  - rollback is a NEW version that re-lists an old version's dirs
  *    (roll-forward history, nothing deleted) — time travel stays
  *    available for every version until [[vacuum]] reclaims dirs no
  *    retained manifest references.
  *
  * 100 TB shape: the driver touches only manifests (O(commits) lines)
  * and directory names; all data movement is `df.write.parquet` /
  * `spark.read.parquet(dirs)` — fully distributed, and the reader's
  * file listing prunes to exactly the snapshot's directories. */
object VersionedTable {

  private val logDir = "_vlog"
  private val endMark = "#END:"

  private def fs(spark: SparkSession, root: String): FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def manifestPath(root: String, v: Long): Path =
    new Path(root, f"$logDir/v$v%05d.manifest")

  private def parseVersion(name: String): Option[Long] =
    if (name.startsWith("v") && name.endsWith(".manifest"))
      name.stripPrefix("v").stripSuffix(".manifest").toLongOption
    else None

  /** Parsed committed manifest: data dirs, schema json, CHECK
    * constraints, and (operation name, commit epoch-millis) — the
    * latter two None/empty on manifests predating their format line. */
  private[operators] final case class ManifestData(
      dirs: Seq[String], schema: Option[String],
      constraints: Seq[(String, String)], op: Option[(String, Long)])

  /** Committed manifests are IMMUTABLE — publish is create-only
    * (nothing ever writes into an existing slot) and slot numbers are
    * never reused (claims go strictly upward; vacuum only deletes) —
    * so a parsed-committed manifest's dir list can be cached for the
    * JVM's lifetime. Without it, [[versions]] re-reads EVERY manifest
    * per call and keyed commits scan every manifest's CONTENT per
    * re-delivery check: O(total commits) file opens per operation,
    * O(n²) metadata I/O over a table's lifetime — the wall Delta's
    * `_last_checkpoint` exists to avoid. Only the COMMITTED verdict is
    * cached; a torn slot can never become committed later but its
    * number CAN stay torn forever, so negatives simply re-read.
    * Existence (vacuumed-away slots) is still checked per call.
    *
    * "Never reused" holds within one table GENERATION: if the root is
    * dropped and recreated (or restored from backup) in the same JVM,
    * slot numbers DO come back — so the cache key includes the
    * manifest file's identity (length + mtime), and the writer makes
    * LENGTH a discriminator on purpose: data-dir names are
    * fixed-width uuids, so two generations' manifests would otherwise
    * tie on length whenever their dir counts match, leaving
    * coarse-mtime filesystems (1 s on some NFS/object stores) a real
    * stale-hit window. [[commitManifest]] therefore appends a
    * RANDOM-LENGTH nonce to the END line; a recreated v00001 now
    * differs in length with ≥63/64 probability independent of mtime
    * granularity (residual risk: same dir count AND same nonce length
    * AND same mtime granule). Dead entries a drop leaves behind are
    * bounded by commit count and never consulted again. */
  private val committedCache =
    new java.util.concurrent.ConcurrentHashMap[
      (String, Long, Long, Long), ManifestData]()

  /** Data dirs of a committed manifest; None if absent or torn. */
  private def readManifest(f: FileSystem, root: String,
      v: Long): Option[Seq[String]] =
    readManifestFull(f, root, v).map(_.dirs)

  private val schemaMark = "#SCHEMA:"
  private val constraintMark = "#CONSTRAINT:"
  private val opMark = "#OP:"

  /** Parse a committed manifest. The schema line (written first,
    * `#SCHEMA:<StructType.json>`) is the snapshot's authoritative
    * column set — carried IN the commit point, so it is atomic with
    * the dir list and immune to write/validate races; a manifest
    * without one predates schema tracking (readers fall back to
    * parquet schema merging). `#CONSTRAINT:<name>:<expr>` lines carry
    * the snapshot's CHECK constraints, `#OP:<name>:<epochMillis>` the
    * committing operation and wall-clock time (history/time-travel
    * metadata only — never a correctness input) the same way. Any
    * future `#`-prefixed line is likewise ignored by the dir parse
    * (the same format-version caveat as the schema line applies to
    * all of them). The END count covers data dirs only. */
  private def readManifestFull(f: FileSystem, root: String,
      v: Long): Option[ManifestData] = {
    val p = manifestPath(root, v)
    val st = try f.getFileStatus(p) catch {
      case _: java.io.FileNotFoundException => return None
    }
    val key = (root, v, st.getLen, st.getModificationTime)
    val cached = committedCache.get(key)
    if (cached != null) return Some(cached)
    val in = f.open(p)
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    val lines = text.split("\n").filter(_.nonEmpty).toSeq
    if (lines.isEmpty || !lines.last.startsWith(endMark)) return None
    val schema = lines.find(_.startsWith(schemaMark))
      .map(_.stripPrefix(schemaMark))
    val cons = lines.filter(_.startsWith(constraintMark)).map { l =>
      val body = l.stripPrefix(constraintMark)
      val cut = body.indexOf(':')
      (body.take(cut), body.drop(cut + 1))
    }
    val op = lines.find(_.startsWith(opMark)).flatMap { l =>
      val body = l.stripPrefix(opMark)
      val cut = body.lastIndexOf(':')
      if (cut < 0) None
      else body.drop(cut + 1).toLongOption.map(t => (body.take(cut), t))
    }
    // data dirs never start with '#': every marked line (known or from
    // a future format rev) stays out of the dir list and END count
    val dirs = lines.dropRight(1).filterNot(_.startsWith("#"))
    // END line is "#END:<count>" (legacy) or "#END:<count>:<nonce>"
    // (the nonce varies the file length across table generations)
    val count = lines.last.stripPrefix(endMark)
      .takeWhile(_ != ':').toIntOption
    if (count.contains(dirs.size)) {
      val md = ManifestData(dirs, schema, cons, op)
      committedCache.put(key, md)
      Some(md)
    } else None
  }

  /** A committed snapshot's recorded schema (None: predates schema
    * tracking). NOTE: the `#SCHEMA` manifest line is a table-FORMAT
    * version bump — a pre-schema-tracking build reading a new manifest
    * counts the line as a data dir and sees the slot as torn. Mixed
    * old/new WRITERS on one table are therefore unsupported (the same
    * caveat as any table-format upgrade); readers of this build parse
    * both formats. */
  def snapshotSchema(spark: SparkSession, root: String,
      v: Long): Option[StructType] = {
    val f = fs(spark, root)
    readManifestFull(f, root, v).flatMap(_.schema).map(j =>
      DataType.fromJson(j).asInstanceOf[StructType])
  }

  /** All committed version numbers, ascending. (Cheap per call: the
    * committed-manifest cache above reduces each already-seen slot to
    * one existence check.) */
  def versions(spark: SparkSession, root: String): Seq[Long] = {
    val f = fs(spark, root)
    val dir = new Path(root, logDir)
    if (!f.exists(dir)) return Seq.empty
    f.listStatus(dir).toSeq
      .flatMap(s => parseVersion(s.getPath.getName))
      .filter(v => readManifest(f, root, v).isDefined)
      .sorted
  }


  /** Effective (monotonized) commit time per version, in version
    * order. Raw time = the manifest's `#OP` epoch, falling back to the
    * manifest file's mtime for pre-provenance manifests (so every
    * committed version has SOME timestamp and stays reachable by
    * `TIMESTAMP AS OF`); then a running max over version order —
    * Delta's commit-timestamp clamping, applied at RESOLUTION time
    * since committed manifests are immutable. Guarantees ts is
    * non-decreasing in version, so timestamp resolution can never
    * contradict version order even when a multi-writer raw timeline
    * regresses (clock skew, NTP step).
    *
    * RELOCATION caveat, and why the fallback is BOUNDED: an mtime is
    * not a commit record — copy/rsync/restore the table and every
    * manifest's mtime becomes "now". Unbounded, one refreshed
    * pre-provenance mtime would clamp every later version's effective
    * time up to it and break historical `TIMESTAMP AS OF` even for
    * versions that DO carry recorded `#OP` epochs. So each fallback is
    * capped at the next recorded `#OP` epoch (version i committed
    * before version i+1, so true time(i) <= any later recorded time —
    * the cap only ever moves a corrupted mtime TOWARD the truth).
    * Trailing pre-provenance versions (no later `#OP`) keep their raw
    * mtime — nothing after them to poison, and a refreshed mtime there
    * only makes them resolve as newer than they are. */
  private def effectiveCommitTimes(f: FileSystem, root: String,
      vs: Seq[Long]): Seq[(Long, Long)] = {
    val ops: Seq[Option[Long]] =
      vs.map(v => readManifestFull(f, root, v).flatMap(_.op).map(_._2))
    // nextRec(i) = first recorded #OP epoch at any index > i
    val nextRec = new Array[Long](vs.length)
    var nr = Long.MaxValue
    for (i <- vs.indices.reverse) {
      nextRec(i) = nr
      ops(i).foreach(t => nr = t)
    }
    var running = Long.MinValue
    vs.zipWithIndex.map { case (v, i) =>
      val raw = ops(i).getOrElse(math.min(nextRec(i),
        f.getFileStatus(manifestPath(root, v)).getModificationTime))
      running = math.max(running, raw)
      (v, running)
    }
  }

  /** DESCRIBE HISTORY (Delta semantics): one row per committed
    * version — (version, ts, operation, n_dirs), NEWEST FIRST (Delta's
    * DESCRIBE HISTORY order: code that takes the first row gets the
    * latest commit). `ts` is the effective (mtime-fallback,
    * monotonized) commit time — exactly what `TIMESTAMP AS OF`
    * resolves against; `operation` comes from the manifest's `#OP`
    * line (null on manifests predating it). Driver-side manifest
    * reads only: O(commits), no data touched, cache-served after
    * first parse. */
  def describeHistory(spark: SparkSession, root: String): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val f = fs(spark, root)
    val rows = effectiveCommitTimes(f, root, versions(spark, root))
      .reverse.flatMap { case (v, ts) =>
        readManifestFull(f, root, v).map { md =>
          Row(v, new java.sql.Timestamp(ts),
            md.op.map(_._1).orNull, md.dirs.size.toLong)
        }
      }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1),
      StructType(Seq(
        StructField("version", LongType, nullable = false),
        StructField("ts", TimestampType, nullable = true),
        StructField("operation", StringType, nullable = true),
        StructField("n_dirs", LongType, nullable = false))))
  }

  /** `TIMESTAMP AS OF` resolution (Delta semantics): the newest
    * committed version whose EFFECTIVE commit time (see
    * [[effectiveCommitTimes]]: mtime fallback for pre-provenance
    * manifests, running-max monotonization) is <= `tsMillis`; None
    * when every version is newer. Monotonization makes the answer
    * consistent with version order under writer clock regression, and
    * the mtime fallback keeps versions predating `#OP` reachable. */
  def versionAsOf(spark: SparkSession, root: String,
      tsMillis: Long): Option[Long] = {
    val f = fs(spark, root)
    effectiveCommitTimes(f, root, versions(spark, root))
      .reverseIterator.find(_._2 <= tsMillis).map(_._1)
  }

  /** [[read]] at the snapshot current as of a wall-clock time. */
  def readAsOfTimestamp(spark: SparkSession, root: String,
      tsMillis: Long): DataFrame =
    read(spark, root, Some(versionAsOf(spark, root, tsMillis).getOrElse(
      throw new IllegalArgumentException(
        s"no version committed at or before $tsMillis under $root"))))

  /** Claim the next version number and install a manifest whose dir
    * list is `dirsFor(latestCommittedVersion)`. The create-if-absent is
    * the CAS; crucially the dir list is RECOMPUTED on every retry, so a
    * writer that loses the race rebases onto the winner's snapshot
    * instead of silently dropping it (the lost-update a log-of-
    * snapshots protocol must rule out).
    *
    * The claimed slot is the first free slot above latest_committed,
    * skipping only TORN files — this is load-bearing two ways:
    *
    *  - No slot-number jumps past commits: an earlier version claimed
    *    one past the highest manifest NUMBER present; a writer that
    *    stalled after reading `latest` could then claim a slot ABOVE
    *    commits it never read and publish a stale dir list as the
    *    newest snapshot — a lost update, caught by the PropertySpec
    *    racing-appenders law. Skipping a TORN slot preserves the
    *    freshness proof because torn debris can NEVER become committed
    *    ([[publishManifest]] makes slots visible atomically WITH their
    *    content, and nothing ever writes into an existing slot file) —
    *    so every committed manifest still sits at a slot some writer
    *    claimed as latest+next, and winning a claim proves no commit
    *    landed in between.
    *
    *  - No deletions on the claim path: torn debris (a pre-protocol
    *    writer's crash) is SKIPPED, its number burned, never deleted —
    *    a delete-then-retry would be a check-then-act race where a
    *    stalled loser deletes the slot a competitor just committed. */
  private def commitManifest(spark: SparkSession, root: String,
      dirsFor: Option[Long] => Seq[String],
      schemaFor: Option[Long] => Option[StructType] = _ => None,
      constraintsFor: Option[Long] => Seq[(String, String)] = null,
      op: String = "commit"): Long = {
    val f = fs(spark, root)
    f.mkdirs(new Path(root, logDir))
    // default: CARRY the latest committed snapshot's constraint set
    // forward — a write path never silently sheds table constraints
    val consFor = Option(constraintsFor).getOrElse(
      (l: Option[Long]) => l.flatMap(readManifestFull(f, root, _))
        .map(_.constraints).getOrElse(Seq.empty))
    var committed = -1L
    while (committed < 0) {
      val latest = versions(spark, root).lastOption
      val dirs = dirsFor(latest)
      // schemaFor runs INSIDE the CAS loop with the same `latest` the
      // dir list rebases onto: a commit that loses a race re-validates
      // its schema against the WINNER's — two concurrent additive
      // evolutions that disagree can never both install (the loser's
      // re-validation throws), so a committed snapshot's dirs are
      // always type-consistent with its recorded schema
      val schemaLine = schemaFor(latest)
        .map(s => s"$schemaMark${s.json}\n").getOrElse("")
      val consLines = consFor(latest)
        .map { case (n, e) => s"$constraintMark$n:$e\n" }.mkString
      // provenance only — never consulted for correctness, so the
      // wall clock here is safe
      val opLine = s"$opMark$op:${System.currentTimeMillis()}\n"
      // random-LENGTH nonce (1..64 hex chars): makes the manifest's
      // byte length a generation discriminator for the committed-
      // manifest cache (see its scaladoc) — dir names are fixed-width,
      // so without it a drop-and-recreate with the same dir count ties
      // on length and only mtime granularity separates generations
      val nonce = (java.util.UUID.randomUUID().toString +
        java.util.UUID.randomUUID().toString).replace("-", "")
        .take(1 + scala.util.Random.nextInt(64))
      val end = s"$endMark${dirs.size}:$nonce\n"
      val body = (schemaLine + consLines + opLine + (if (dirs.isEmpty) end
        else dirs.mkString("\n") + s"\n$end"))
        .getBytes("UTF-8")
      var v = latest.getOrElse(0L) + 1
      // burn past torn debris (readManifest: exists but no terminator)
      while (f.exists(manifestPath(root, v)) &&
          readManifest(f, root, v).isEmpty)
        v += 1
      if (publishManifest(f, root, v, body)) committed = v
      // else: a competitor committed a slot first — rebase, retry
    }
    // best-effort sweep of stale publish tmp files (a writer crashing
    // between tmp-create and rename leaks one per attempt, and nothing
    // else walks them). Age-gated a full hour so a live competitor's
    // in-flight tmp is never touched — and even if one were swept, its
    // rename just fails and that writer retries as a lost race.
    try {
      val cutoff = System.currentTimeMillis() - 3600L * 1000L
      f.listStatus(new Path(root, logDir)).foreach { s =>
        val n = s.getPath.getName
        if (n.startsWith(".") && n.endsWith(".tmp") &&
            s.getModificationTime < cutoff)
          f.delete(s.getPath, false)
      }
    } catch { case _: java.io.IOException => () }
    committed
  }

  /** Publish a version slot ATOMICALLY WITH ITS CONTENT — the property
    * the whole protocol rests on: a slot must never be visible without
    * its FULL body. (An earlier HDFS path used `create(overwrite=false)`
    * and streamed the body into the claimed slot; that makes the slot
    * visible-but-torn while writing, which forced slot-number skipping
    * at claim time — the jump that produced the lost-update race
    * [[commitManifest]] documents. Both paths now make visibility and
    * content one atomic step, so torn slots cannot exist mid-protocol
    * and the claim can be strict latest+1.)
    *
    *  - On the LOCAL filesystem the body is written to a private tmp
    *    file and published with a HARD LINK — `link(2)` fails with
    *    EEXIST atomically at the syscall level.
    *  - On HDFS-like stores the body is written to a dot-prefixed tmp
    *    file in the log dir (invisible to [[parseVersion]]) and
    *    published with `rename`, an atomic namespace operation that
    *    fails when the destination exists. (Object stores whose rename
    *    is copy-then-delete need a coordination layer for multi-writer
    *    commits — the same caveat every rename-CAS table format
    *    carries.)
    *
    * Returns false when the slot was already taken (caller rebases). */
  private def publishManifest(f: FileSystem, root: String, v: Long,
      body: Array[Byte]): Boolean = {
    val slot = manifestPath(root, v)
    val isLocal = f.getUri.getScheme == "file"
    if (isLocal) {
      val slotNio = java.nio.file.Paths.get(slot.toUri.getPath)
      val tmp = slotNio.resolveSibling(
        s".${slot.getName}.${java.util.UUID.randomUUID()}.tmp")
      java.nio.file.Files.write(tmp, body)
      try {
        java.nio.file.Files.createLink(slotNio, tmp)
        true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => false
      } finally java.nio.file.Files.delete(tmp)
    } else {
      val tmp = new Path(root, s"$logDir/.${slot.getName}." +
        s"${java.util.UUID.randomUUID()}.tmp")
      val out = f.create(tmp, true)
      try out.write(body) finally out.close()
      val won =
        try f.rename(tmp, slot)
        catch { case _: java.io.IOException => false }
      if (!won) f.delete(tmp, false)
      won
    }
  }

  /** Commit `df` as the next version. `overwrite = false` appends to
    * the latest committed snapshot's dir list; `true` replaces it.
    * Returns the committed version number.
    *
    * `idempotencyKey` makes RE-DELIVERY of the same logical commit a
    * no-op returning the original version (the exactly-once contract a
    * streaming micro-batch sink needs: foreachBatch is at-least-once,
    * so a restarted query re-offers committed batch ids). A keyed data
    * dir left by a writer that died BEFORE its manifest landed is
    * unreferenced, so the retry safely rewrites it. Keyed commits are
    * for sequential re-delivery, not concurrent writers sharing a key. */
  def commit(spark: SparkSession, root: String, df: DataFrame,
      overwrite: Boolean = false,
      idempotencyKey: Option[String] = None,
      mergeSchema: Boolean = false): Long = {
    val f = fs(spark, root)
    val dataDir = "data/" + idempotencyKey.map(k => s"k-$k")
      .getOrElse(java.util.UUID.randomUUID().toString)
    if (idempotencyKey.isDefined) {
      val already = versions(spark, root).find(v =>
        // dirKey identity: a shallow clone rewrites a keyed dir as an
        // absolute source path, and re-delivery must still no-op there
        readManifest(f, root, v).exists(_.exists(dirKey(_) == dataDir)))
      already.foreach(v => return v)
      // crash orphan from a previous attempt: unreferenced, rewrite
      f.delete(new Path(root, dataDir), true)
    }
    def gate(latest: Option[Long]): StructType =
      if (overwrite) normalize(df.schema)
      else evolvedSchema(
        latest.map(v => schemaOfVersion(spark, root, v,
          readManifest(f, root, v).getOrElse(Seq.empty))),
        df.schema, mergeSchema)
    // fail fast BEFORE writing data the gate would reject...
    val entryLatest = versions(spark, root).lastOption
    gate(entryLatest)
    val entryCons = entryLatest.flatMap(readManifestFull(f, root, _))
      .map(_.constraints).getOrElse(Seq.empty)
    // data first, fully, into an immutable dir nobody references yet —
    // CHECK constraints enforced as observed metrics of this write
    writeDataDir(spark, root, dataDir, df, entryCons)
    commitManifest(spark, root, latest => {
      val base =
        if (overwrite) Seq.empty
        else latest.flatMap(readManifest(f, root, _)).getOrElse(Seq.empty)
      base :+ dataDir
    },
      // ...and re-gate INSIDE the CAS loop: a commit rebased onto a
      // competitor's (possibly schema-evolving) commit re-validates
      // against what actually won, so racing incompatible evolutions
      // cannot both install
      latest => Some(gate(latest)),
      // constraints likewise: if the set moved since entry (a racing
      // addConstraint won), re-validate the already-written dir against
      // the newcomers — one column-pruned read of just this dir, only
      // on an actual race
      latest => {
        import org.apache.spark.sql.functions.{coalesce, expr, lit, not}
        val cons = latest.flatMap(readManifestFull(f, root, _))
          .map(_.constraints).getOrElse(Seq.empty)
        val newcomers = cons.filterNot(entryCons.toSet)
        if (newcomers.nonEmpty) {
          // read back under the gated commit schema (the snapshot-schema
          // read contract used everywhere else): schema-inferring
          // spark.read.parquet would die on an EMPTY append's dir (no
          // part files -> inference AnalysisException) where the
          // re-validation should trivially pass, and explicit-schema
          // reads also null-fill evolved columns by name
          val back = readDirsAs(spark, root, gate(latest), Seq(dataDir))
          newcomers.foreach { case (n, e) =>
            val bad = back.filter(not(coalesce(expr(e), lit(true))))
              .limit(1).count()
            if (bad > 0) {
              f.delete(new Path(root, dataDir), true)
              throw new IllegalArgumentException(
                s"CHECK constraint '$n' ($e), added concurrently, is " +
                  "violated by this commit's data — commit rejected")
            }
          }
        }
        cons
      },
      op = if (overwrite) "overwrite" else "append")
  }

  // ------------------------------------------------ snapshot schema

  /** Everything-nullable, metadata-free view of a type: the stored
    * table schema must accept rows from ANY commit; nullability
    * (top-level AND nested containsNull/valueContainsNull) varies
    * freely with how a frame was built, and column METADATA (comments,
    * ML attributes) is dropped by ordinary projections (`withColumn`
    * aliases carry none) — neither is ever a type difference. */
  private def asAllNullable(dt: DataType): DataType = dt match {
    case s: StructType => StructType(s.fields.map(fd =>
      fd.copy(dataType = asAllNullable(fd.dataType), nullable = true,
        metadata = org.apache.spark.sql.types.Metadata.empty)))
    case a: ArrayType => ArrayType(asAllNullable(a.elementType), true)
    case m: MapType =>
      MapType(asAllNullable(m.keyType), asAllNullable(m.valueType), true)
    case other => other
  }

  private def normalize(s: StructType): StructType =
    asAllNullable(s).asInstanceOf[StructType]

  /** Inferred schemas of pre-schema-tracking versions, memoized:
    * versions are immutable, and the merged-footer fallback is a
    * whole-snapshot job a legacy table would otherwise pay once per
    * gate evaluation (twice per commit: fail-fast + CAS). */
  private val legacySchemaCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Long), StructType]()

  /** The snapshot's schema, inferred the expensive way (a merged
    * parquet footer read) ONLY for pre-schema-tracking manifests —
    * every manifest this code writes records it. */
  private def schemaOfVersion(spark: SparkSession, root: String,
      v: Long, dirs: Seq[String]): StructType =
    snapshotSchema(spark, root, v).getOrElse(
      legacySchemaCache.computeIfAbsent((root, v), _ =>
        normalize(spark.read.option("mergeSchema", "true")
          .parquet(dirs.map(d => new Path(root, d).toString): _*).schema)))

  /** Read data dirs UNDER a known snapshot schema: explicit-schema
    * parquet (zero footer inference; files missing an evolved column
    * null-fill it, parquet resolves columns by name). */
  private def readDirsAs(spark: SparkSession, root: String,
      schema: StructType, dirs: Seq[String]): DataFrame =
    spark.read.schema(schema)
      .parquet(dirs.map(d => new Path(root, d).toString): _*)

  /** The write-side schema gate + union (the Delta-style evolution
    * contract): an identical column set (by name, order-insensitive,
    * nullability-insensitive) always passes; NEW columns are an
    * additive evolution, allowed only under an explicit `mergeSchema =
    * true` (reads null-fill them for older dirs); dropping columns or
    * changing a column's type is rejected loudly — those need an
    * `overwrite` (a new table generation), never an append. Returns
    * the snapshot schema the commit should record: current fields in
    * their order, added fields appended in the frame's order. */
  private def evolvedSchema(current: Option[StructType],
      next0: StructType, mergeSchema: Boolean): StructType = {
    val next = normalize(next0)
    val cur = current.map(normalize).getOrElse(return next)
    val curT = cur.fields.map(fd => fd.name -> fd.dataType).toMap
    val nxtT = next.fields.map(fd => fd.name -> fd.dataType).toMap
    val missing = curT.keySet -- nxtT.keySet
    val added = next.fields.filterNot(fd => curT.contains(fd.name))
    val retyped = (curT.keySet & nxtT.keySet)
      .filter(k => curT(k) != nxtT(k))
    require(missing.isEmpty && retyped.isEmpty,
      s"commit schema is incompatible with the table's: " +
        (if (missing.nonEmpty) s"missing [${missing.mkString(", ")}] " else "") +
        (if (retyped.nonEmpty) s"retyped [${retyped.map(k =>
          s"$k: ${curT(k).catalogString} -> ${nxtT(k).catalogString}")
          .mkString(", ")}] " else "") +
        "— appends may only ADD columns (mergeSchema = true); " +
        "use overwrite = true for a new table generation")
    require(added.isEmpty || mergeSchema,
      s"commit adds column(s) [${added.map(_.name).mkString(", ")}] to " +
        "the table schema — pass mergeSchema = true to evolve " +
        "additively (older snapshots' rows read the new columns as NULL)")
    StructType(cur.fields ++ added)
  }

  /** A manifest dir entry's identity as file paths report it:
    * `data/<name>`. Ordinary entries ARE that form already; a shallow
    * clone's entries are absolute paths into the SOURCE table, whose
    * identity is still their last two components (dir names are
    * UUIDs/keyed commits — unique across any set of roots a table can
    * reference). Touched-dir detection matches `input_file_name()`
    * against this key, so predicate CoW works identically on cloned
    * and native dirs. */
  private def dirKey(d: String): String =
    "data/" + new Path(d).getName

  /** SHALLOW CLONE (Delta `CREATE TABLE ... SHALLOW CLONE` semantics):
    * `dstRoot` becomes a table whose v1 manifest references the SOURCE
    * snapshot's data dirs IN PLACE (absolute paths) — zero data copied,
    * metadata-only, O(manifest) time at any table size. The clone
    * carries the source snapshot's schema and CHECK constraints.
    * Writes to the clone land under the clone's own root: appends add
    * local dirs alongside the absolute references; merge/delete/update
    * rewrite only touched dirs (local copies); [[compact]] rewrites
    * everything locally and thereby SEVERS the source dependency.
    *
    * Caveat (identical to Delta's): [[vacuum]] on the SOURCE reclaims
    * dirs a clone may still reference — source retention must outlive
    * clones, or compact the clone to sever. Returns the clone's v1. */
  def cloneShallow(spark: SparkSession, srcRoot: String, dstRoot: String,
      asOf: Option[Long] = None): Long = {
    // Delta errors on an existing target too: a clone must never
    // wholesale-replace a table that already has committed versions
    require(versions(spark, dstRoot).isEmpty,
      s"cloneShallow target $dstRoot already has committed versions")
    val fSrc = fs(spark, srcRoot)
    val v = asOf.getOrElse(versions(spark, srcRoot).lastOption.getOrElse(
      throw new IllegalStateException(
        s"no committed version under $srcRoot")))
    val md = readManifestFull(fSrc, srcRoot, v).getOrElse(
      throw new IllegalArgumentException(s"version $v not committed"))
    val (dirs, cons) = (md.dirs, md.constraints)
    val schema = snapshotSchema(spark, srcRoot, v)
      .getOrElse(schemaOfVersion(spark, srcRoot, v, dirs))
    val absolute = dirs.map(d =>
      fSrc.makeQualified(new Path(srcRoot, d)).toString)
    // the emptiness REQUIRE above is a fast-fail, not the guard: it is
    // check-then-act against a racing writer. The real guard runs
    // inside the CAS closure — a commit that lands between the check
    // and our claim makes the clone THROW (like every other write
    // path's ConcurrentModificationException discipline) instead of
    // installing a dir list that silently ignores the racer's data.
    commitManifest(spark, dstRoot, latest => {
      if (latest.nonEmpty) throw new java.util.ConcurrentModificationException(
        s"cloneShallow target $dstRoot gained committed version " +
          s"${latest.get} during the clone — target must stay empty")
      absolute
    }, _ => Some(schema), _ => cons, op = "clone")
  }

  /** Read the table at `asOf` (a committed version) or, by default,
    * the latest committed snapshot. The returned frame is pinned to
    * that snapshot's immutable dirs — later commits never leak in —
    * and to the snapshot's RECORDED schema (carried in its manifest):
    * after an additive evolution ([[commit]] with mergeSchema = true)
    * older dirs' rows read the added columns as NULL, a version whose
    * dirs predate the evolution time-travels to its narrower schema,
    * and because the schema comes from the manifest the read costs
    * ZERO parquet footer inference. Manifests predating schema
    * tracking fall back to a merged-footer read (never the
    * arbitrary-first-footer schema that silently drops columns). */
  def read(spark: SparkSession, root: String,
      asOf: Option[Long] = None): DataFrame = {
    val f = fs(spark, root)
    val v = asOf.getOrElse(versions(spark, root).lastOption.getOrElse(
      throw new IllegalStateException(s"no committed version under $root")))
    val dirs = readManifest(f, root, v).getOrElse(
      throw new IllegalArgumentException(s"version $v not committed"))
    snapshotSchema(spark, root, v) match {
      case Some(s) => readDirsAs(spark, root, s, dirs)
      case None => spark.read.option("mergeSchema", "true").parquet(
        dirs.map(d => new Path(root, d).toString): _*)
    }
  }

  /** Roll the table back to `v`'s content by committing a NEW version
    * with `v`'s dir list — history is append-only, so the "undone"
    * versions stay readable. Returns the new version number. */
  def rollback(spark: SparkSession, root: String, v: Long): Long = {
    val f = fs(spark, root)
    val dirs = readManifest(f, root, v).getOrElse(
      throw new IllegalArgumentException(s"version $v not committed"))
    // the restored content carries the RESTORED version's schema AND
    // constraint set (its data was validated under those constraints;
    // the current set may reject rows the restored snapshot contains)
    commitManifest(spark, root, _ => dirs,
      _ => snapshotSchema(spark, root, v),
      _ => constraintsOf(spark, root, Some(v)), op = "restore")
  }

  // ------------------------------------------------- CHECK constraints

  /** The CHECK constraints of a committed snapshot (latest by default),
    * in declaration order, as (name, SQL expression) pairs. */
  def constraintsOf(spark: SparkSession, root: String,
      asOf: Option[Long] = None): Seq[(String, String)] = {
    val f = fs(spark, root)
    val v = asOf.orElse(versions(spark, root).lastOption)
      .getOrElse(return Seq.empty)
    readManifestFull(f, root, v).map(_.constraints).getOrElse(Seq.empty)
  }

  /** Add a table-level CHECK constraint (Delta `ALTER TABLE ... ADD
    * CONSTRAINT` semantics): `exprSql` must hold for every row — NULL
    * passes, only FALSE violates, so `NOT NULL` is the special case
    * `addNotNull`. EXISTING data is validated first (one column-pruned
    * scan of the current snapshot); every later write path ([[commit]],
    * [[merge]], [[updateWhere]], streaming sinks riding them) then
    * enforces the constraint as an observed metric of its own write job
    * — a violating batch is rejected atomically, no version published,
    * the written dir deleted. Validation runs INSIDE the CAS loop: an
    * add racing other commits re-validates against the winner's
    * snapshot, so a committed constraint is always true of the snapshot
    * it lands on. Returns the new version. */
  def addConstraint(spark: SparkSession, root: String,
      name: String, exprSql: String): Long = {
    import org.apache.spark.sql.functions.{coalesce, expr, lit, not}
    require(name.matches("[A-Za-z0-9_]+"),
      s"constraint name '$name' must be [A-Za-z0-9_]+")
    require(exprSql.nonEmpty && !exprSql.contains("\n"),
      "constraint expression must be non-empty single-line SQL")
    // a zero-dir constraint-only manifest would have no schema to
    // record and nothing to validate against — same contract as Delta:
    // the table must exist first (an empty commit suffices)
    require(versions(spark, root).nonEmpty,
      "addConstraint needs a committed version — commit the table " +
        "first (an empty frame works)")
    val f = fs(spark, root)
    commitManifest(spark, root,
      latest => latest.flatMap(readManifest(f, root, _)).getOrElse(Seq.empty),
      latest => latest.flatMap(v => snapshotSchema(spark, root, v)),
      latest => {
        val cur = latest.flatMap(readManifestFull(f, root, _))
          .map(_.constraints).getOrElse(Seq.empty)
        require(!cur.exists(_._1 == name),
          s"constraint '$name' already exists")
        latest.foreach { v =>
          val bad = read(spark, root, Some(v))
            .filter(not(coalesce(expr(exprSql), lit(true))))
            .limit(1).count()
          require(bad == 0,
            s"existing rows violate CHECK constraint '$name' ($exprSql)" +
              " — clean the data first (deleteWhere/updateWhere)")
        }
        cur :+ (name -> exprSql)
      }, op = "add-constraint")
  }

  /** NOT NULL constraint sugar: `addConstraint("nn_<col>", "<col> IS
    * NOT NULL")`. */
  def addNotNull(spark: SparkSession, root: String, column: String): Long =
    addConstraint(spark, root, s"nn_$column", s"$column IS NOT NULL")

  /** Drop a CHECK constraint by name; later commits stop enforcing it.
    * Returns the new version. */
  def dropConstraint(spark: SparkSession, root: String,
      name: String): Long = {
    require(versions(spark, root).nonEmpty,
      "dropConstraint needs a committed version")
    val f = fs(spark, root)
    commitManifest(spark, root,
      latest => latest.flatMap(readManifest(f, root, _)).getOrElse(Seq.empty),
      latest => latest.flatMap(v => snapshotSchema(spark, root, v)),
      latest => {
        val cur = latest.flatMap(readManifestFull(f, root, _))
          .map(_.constraints).getOrElse(Seq.empty)
        require(cur.exists(_._1 == name), s"no constraint named '$name'")
        cur.filterNot(_._1 == name)
      }, op = "drop-constraint")
  }

  // ------------------------------------------------- per-dir column stats

  /** Stats sidecar name inside a data dir (underscore-prefixed files
    * are invisible to Spark's parquet reader). */
  private val statsFile = "_stats.json"

  /** Every data dir lands through here: parquet write (error-if-exists
    * keeps dirs immutable) + the column min/max stats sidecar, computed
    * as OBSERVED METRICS of the write job itself — a map-side
    * accumulator piggybacking on the pass that writes the bytes, so
    * stats cost zero extra jobs and zero extra reads at any table
    * size. Only atomic orderable types participate; other columns are
    * simply absent (absent = never prunes). A dir with no sidecar
    * (older writer) degrades to unpruned — stats are an optimization,
    * never a correctness input. */
  private def writeDataDir(spark: SparkSession, root: String,
      dir: String, df: DataFrame,
      constraints: Seq[(String, String)] = Seq.empty): Unit = {
    import org.apache.spark.sql.functions.{coalesce, col, expr, lit, max, min, sum, when}
    import org.apache.spark.sql.types._
    val path = new Path(root, dir).toString
    // fail with constraint context, not a bare resolution error, when a
    // CHECK references a column the commit schema lacks (only reachable
    // via overwrite-narrowing — append gates require all table columns)
    constraints.foreach { case (n, e) =>
      try df.select(expr(e))
      catch { case ex: org.apache.spark.sql.AnalysisException =>
        throw new IllegalArgumentException(
          s"CHECK constraint '$n' ($e) does not resolve against the " +
            "commit schema — drop the constraint before narrowing the " +
            "table", ex)
      }
    }
    val statable = df.schema.fields.filter(f => f.dataType match {
      case LongType | IntegerType | ShortType | ByteType | DoubleType |
           FloatType | StringType | DateType | TimestampType |
           TimestampNTZType | _: DecimalType => true
      case _ => false
    })
    // CHECK violations counted as observed metrics of the same write
    // job as the stats sidecar — enforcement costs zero extra scans at
    // any table size. SQL CHECK semantics: NULL passes, only an
    // expression that is literally FALSE violates.
    val consAggs = constraints.map { case (n, e) =>
      sum(when(!coalesce(expr(e), lit(true)), 1L).otherwise(0L))
        .as(s"viol:$n")
    }
    if (statable.isEmpty && consAggs.isEmpty) {
      graft.Engine.label(spark, s"vtab write $dir")(
        df.write.mode(SaveMode.ErrorIfExists).parquet(path))
      return
    }
    val obs = new org.apache.spark.sql.Observation(
      s"graft-stats-${java.util.UUID.randomUUID()}")
    val aggs = statable.flatMap(f => Seq(
      min(col(f.name)).cast("string").as(s"min:${f.name}"),
      max(col(f.name)).cast("string").as(s"max:${f.name}"))) ++ consAggs
    graft.Engine.label(spark, s"vtab write+stats $dir")(
      df.observe(obs, aggs.head, aggs.tail: _*)
        .write.mode(SaveMode.ErrorIfExists).parquet(path))
    val metrics = obs.get
    // constraints verdict FIRST: a rejected dir is deleted before any
    // sidecar lands, so nothing ever references or half-describes it
    constraints.foreach { case (n, e) =>
      metrics.get(s"viol:$n") match {
        case Some(c: Long) if c > 0 =>
          fs(spark, root).delete(new Path(root, dir), true)
          throw new IllegalArgumentException(
            s"CHECK constraint '$n' ($e) violated by $c row(s) — " +
              "commit rejected, no version published")
        case _ => ()
      }
    }
    val node = graft.Json.mapper.createObjectNode()
    statable.foreach { f =>
      (metrics.get(s"min:${f.name}"), metrics.get(s"max:${f.name}")) match {
        case (Some(mn: String), Some(mx: String)) =>
          val o = node.putObject(f.name)
          o.put("min", mn); o.put("max", mx)
          // date/timestamp string forms (ISO, no trailing zeros in the
          // fraction) order lexicographically like their values, so
          // they compare as strings; everything else numeric via
          // exact decimal
          o.put("kind", f.dataType match {
            case StringType | DateType | TimestampType |
                 TimestampNTZType => "str"
            case _ => "num"
          })
        case _ => // all-null or unavailable: no entry, never prunes
      }
    }
    val f = fs(spark, root)
    val out = f.create(new Path(path, statsFile), true)
    try out.write(node.toString.getBytes("UTF-8")) finally out.close()
  }

  /** (min, max, isString) per column, from the sidecar; None when the
    * dir has no stats. */
  private def readDirStats(f: FileSystem, root: String,
      dir: String): Option[Map[String, (String, String, Boolean)]] = {
    val p = new Path(new Path(root, dir), statsFile)
    if (!f.exists(p)) return None
    val in = f.open(p)
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    try {
      val node = graft.Json.read(text)
      Some(node.properties.asScala.map { e =>
        e.getKey -> (e.getValue.get("min").asText(),
          e.getValue.get("max").asText(),
          e.getValue.get("kind").asText() == "str")
      }.toMap)
    } catch { case _: Exception => None } // corrupt sidecar: no pruning
  }

  /** Dirs whose stats CANNOT rule out containing a source key — the
    * candidate set [[merge]] scans for touched-dir detection. A dir is
    * pruned only when, for SOME key column, both sides have stats and
    * the [min, max] intervals are disjoint (numeric compare for
    * numeric kinds, binary string compare for strings — the same
    * orders the engines sorted by when producing min/max). */
  private[operators] def pruneDirsByKeyRange(spark: SparkSession,
      root: String, dirs: Seq[String], source: DataFrame,
      keys: Seq[String]): Seq[String] = {
    import org.apache.spark.sql.functions.{col, max, min}
    val f = fs(spark, root)
    val stats = dirs.map(d => d -> readDirStats(f, root, d)).toMap
    if (stats.values.forall(_.isEmpty)) return dirs
    val aggs = keys.flatMap(k => Seq(
      min(col(k)).cast("string").as(s"min:$k"),
      max(col(k)).cast("string").as(s"max:$k")))
    val row = graft.Engine.label(spark, "vtab merge: key-range prune")(
      source.agg(aggs.head, aggs.tail: _*).collect()(0))
    val srcRange = keys.zipWithIndex.map { case (k, i) =>
      k -> (row.getString(2 * i), row.getString(2 * i + 1))
    }.toMap
    def disjoint(aMin: String, aMax: String, bMin: String, bMax: String,
        isStr: Boolean): Boolean = {
      def lt(x: String, y: String) =
        if (isStr) x < y
        else BigDecimal(x) < BigDecimal(y)
      lt(aMax, bMin) || lt(bMax, aMin)
    }
    dirs.filter { d =>
      stats(d) match {
        case None => true // no sidecar: cannot prune
        case Some(ds) =>
          !keys.exists { k =>
            (ds.get(k), srcRange.get(k)) match {
              case (Some((dMin, dMax, isStr)), Some((sMin, sMax)))
                  if sMin != null && sMax != null =>
                scala.util.Try(
                  disjoint(dMin, dMax, sMin, sMax, isStr))
                  .getOrElse(false)
              case _ => false
            }
          }
      }
    }
  }

  /** MERGE INTO the latest snapshot with dir-granularity COPY-ON-WRITE
    * — the Delta/Iceberg merge shape re-expressed on the manifest
    * protocol. Semantics (one source row per key; caller dedups):
    *  - matched target rows are REPLACED by their source row
    *    (upsert), or dropped when `deleteMatched` holds on the source
    *    row (whenMatched delete);
    *  - unmatched source rows are INSERTED;
    *  - target rows whose key the source never mentions are kept
    *    bit-for-bit — and, crucially, kept WITHOUT being rewritten
    *    when their whole data dir contains no matched key.
    *
    * Scale shape: the snapshot is scanned once (key columns only — the
    * parquet reader prunes the rest) to find the TOUCHED data dirs via
    * a semi-join against the source keys; only those dirs' rows are
    * re-read in full and rewritten. A merge touching 0.1% of a 100 TB
    * table rewrites ~0.1% of it, not the table. The driver holds only
    * the dir-name list (O(commits)).
    *
    * Concurrency: first-writer-wins serializable — the commit installs
    * only if the table is still at the snapshot the merge read
    * (otherwise [[java.util.ConcurrentModificationException]]; rerun
    * the merge on the new snapshot). Returns the committed version.
    *
    * `idempotencyKey` gives merge the same exactly-once re-delivery
    * contract as [[commit]]: a re-offered merge whose keyed dir is
    * already referenced by a committed manifest is a no-op returning
    * the original version (what a streaming upsert sink needs —
    * foreachBatch is at-least-once). Keyed merges are for sequential
    * re-delivery, not concurrent writers sharing a key.
    *
    * `updateSet` switches matched rows from whole-row replacement to
    * COLUMN-LEVEL assignment (`WHEN MATCHED THEN UPDATE SET col =
    * expr`) — the accumulating-snapshot fact shape (reference
    * docs/数据模型.md:21-25: facts updatable after load). Assignment
    * expressions resolve against a joined (matched-target × source)
    * frame under the FIXED aliases `t` (the target row, pre-update)
    * and `s` (the source row, its ORIGINAL columns only — referencing
    * a column the source doesn't carry is an analysis error, never a
    * silent NULL): e.g. `Map("qty" -> expr("t.qty + s.qty"))`. Every
    * RHS sees the pre-update row (one select — SQL simultaneous
    * assignment), is cast to the column's type (SQL store-assignment),
    * and unassigned columns keep the target's value. Unmatched source
    * rows still INSERT whole rows; `deleteMatched` still deletes. On
    * an EMPTY table updateSet is vacuously inapplicable (every row
    * inserts). */
  def merge(spark: SparkSession, root: String, source: DataFrame,
      keys: Seq[String],
      deleteMatched: Option[org.apache.spark.sql.Column] = None,
      idempotencyKey: Option[String] = None,
      updateSet: Option[Seq[(String, org.apache.spark.sql.Column)]] = None)
      : Long = {
    idempotencyKey.foreach { k =>
      val f = fs(spark, root)
      val dir = s"data/k-$k"
      val already = versions(spark, root).find(v =>
        // dirKey identity — same clone-entry caveat as [[commit]]'s check
        readManifest(f, root, v).exists(_.exists(dirKey(_) == dir)))
      already.foreach(v => return v)
      // crash orphan from a previous attempt: unreferenced, rewrite
      f.delete(new Path(root, dir), true)
    }
    versions(spark, root).lastOption match {
      case None => // empty table: nothing matches, every row inserts
        commit(spark, root, source, idempotencyKey = idempotencyKey)
      case Some(v) =>
        mergeFrom(spark, root, v, source, keys, deleteMatched,
          idempotencyKey, updateSet)
    }
  }

  /** [[merge]] planned against an explicit base version — the
    * first-writer-wins check rejects installs when the table has moved
    * past `baseV` (exposed at this visibility so the conflict path is
    * deterministically testable). */
  private[operators] def mergeFrom(spark: SparkSession, root: String,
      baseV: Long, source: DataFrame, keys: Seq[String],
      deleteMatched: Option[org.apache.spark.sql.Column],
      idempotencyKey: Option[String] = None,
      updateSet: Option[Seq[(String, org.apache.spark.sql.Column)]] = None)
      : Long = {
    import org.apache.spark.sql.functions._
    require(keys.nonEmpty, "merge needs at least one key column")
    val f = fs(spark, root)
    val dirs = readManifest(f, root, baseV).get
    // every target read below goes through the snapshot's RECORDED
    // schema: after an additive evolution a touched-dir set mixing
    // pre- and post-evolution dirs (or consisting only of older,
    // narrower dirs) must read — and REWRITE — the full table schema,
    // or the rewrite silently drops the evolved column's data
    val tableSchema = schemaOfVersion(spark, root, baseV, dirs)
    // source alignment contract: extra source columns are REJECTED
    // (merge never evolves the schema — evolve via commit(mergeSchema)
    // first), missing columns null-fill — a merge replaces matched
    // rows WHOLESALE, so a source lacking an evolved column upserts
    // NULL for it, and a pure-insert batch predating an evolution
    // keeps committing (it reads back null-filled, same as read())
    // all alignment is case-INSENSITIVE (Spark's default resolution):
    // a source column named ID for table column id is the same column,
    // not an extra — matching the INSERT BY NAME and updateSet checks
    val srcCols = source.columns.toSet
    val extraSrc = srcCols.filterNot(c =>
      tableSchema.fieldNames.exists(_.equalsIgnoreCase(c)))
    require(extraSrc.isEmpty,
      s"merge source carries column(s) [${extraSrc.mkString(", ")}] " +
        "not in the table schema — evolve via commit(mergeSchema = " +
        "true) first")
    val missingKeys = keys.filterNot(k =>
      srcCols.exists(_.equalsIgnoreCase(k)))
    require(missingKeys.isEmpty,
      s"merge source is missing key column(s) " +
        s"[${missingKeys.mkString(", ")}]")
    val alignedSource = source.select(tableSchema.fields.map(fd =>
      srcCols.find(_.equalsIgnoreCase(fd.name)) match {
        case Some(c) => col(c).as(fd.name)
        case None => lit(null).cast(fd.dataType).as(fd.name)
      }): _*)
    // NO .distinct(): every consumer is distinct-insensitive — the
    // left_semi/left_anti probes and the min/max range aggregate give
    // identical results over a keyed bag — and the distinct cost a
    // full exchange + two aggregates inside both the touched-dir scan
    // job and the rewrite job's plan
    val srcKeys = alignedSource.select(keys.map(col): _*)
    // stats sidecars first: dirs whose key range can't intersect the
    // source's are never opened at all (manifest-level data skipping).
    // Range pruning costs one source-range aggregate job, which only
    // pays for itself when there are enough dirs to skip — on a small
    // manifest the touched-dir scan below prunes exactly at the same
    // cost, so the sidecar pass is skipped entirely (at 100 TB the
    // manifest is long and the pruning is what keeps the key scan off
    // most of the table).
    val candidates =
      if (dirs.size <= 8) dirs
      else pruneDirsByKeyRange(spark, root, dirs, srcKeys, keys)
    // then one key-column-pruned scan over the candidates → touched dirs
    val touched =
      if (candidates.isEmpty) Set.empty[String]
      else graft.Engine.label(spark, "vtab merge: touched-dir scan")(
        readDirsAs(spark, root, tableSchema, candidates)
          .select(keys.map(col): _*)
          .withColumn("__dir",
            regexp_extract(input_file_name(), "/(data/[^/]+)/", 1))
          .join(srcKeys, keys, "left_semi")
          .select("__dir").distinct().collect().map(_.getString(0)).toSet)
    // dirKey matching: shallow-clone entries are absolute source paths
    val untouched = dirs.filterNot(d => touched(dirKey(d)))
    val target =
      if (touched.isEmpty)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], tableSchema)
      else readDirsAs(spark, root, tableSchema,
        dirs.filter(d => touched(dirKey(d))))
    val targetKeys = target.select(keys.map(col): _*) // semi/anti only
    val keptTarget = target.join(srcKeys, keys, "left_anti")
    // WHEN MATCHED AND c THEN DELETE deletes only where c is TRUE: a
    // NULL verdict falls through to the update clause (filter(!c)
    // would silently delete NULL-verdict rows — same three-valued
    // hazard as deleteWhere)
    val updates = updateSet match {
      case None => // whole-row replacement (UPDATE SET *)
        val matchedSrc = alignedSource.join(targetKeys, keys, "left_semi")
        deleteMatched.fold(matchedSrc)(c =>
            matchedSrc.filter(!coalesce(c, lit(false))))
          .select(target.columns.map(col): _*)
      case Some(assigns) => // column-level UPDATE SET col = expr
        val byLower = assigns.map { case (k, v) =>
          k.toLowerCase -> v }.toMap
        require(byLower.size == assigns.size,
          "merge updateSet: duplicate assignment targets")
        val unknown = assigns.map(_._1).filterNot(k =>
          tableSchema.fieldNames.exists(_.equalsIgnoreCase(k)))
        require(unknown.isEmpty,
          s"merge updateSet: target(s) [${unknown.mkString(", ")}] " +
            "are not columns of the table")
        // RAW source columns under alias `s` (a ref to a column the
        // source doesn't carry must be an analysis ERROR, which the
        // null-filled aligned frame would mask), matched target rows
        // under alias `t`
        val srcMatched = source.join(targetKeys, keys, "left_semi")
        val srcUpd = deleteMatched.fold(srcMatched)(c =>
          srcMatched.filter(!coalesce(c, lit(false))))
        val joined = target.alias("t").join(srcUpd.alias("s"),
          keys.map(k => col(s"t.$k") === col(s"s.$k")).reduce(_ && _),
          "inner")
        joined.select(tableSchema.fields.map { fd =>
          byLower.get(fd.name.toLowerCase) match {
            case Some(e) => e.cast(fd.dataType).as(fd.name)
            case None => col(s"t.${fd.name}").as(fd.name)
          }
        }.toSeq: _*)
    }
    val inserts = alignedSource.join(targetKeys, keys, "left_anti")
    val newRows = keptTarget
      .unionByName(updates)
      .unionByName(inserts.select(target.columns.map(col): _*))
    val newDir = "data/" + idempotencyKey.map(k => s"k-$k")
      .getOrElse(java.util.UUID.randomUUID().toString)
    // constraints of baseV enforced on the rewrite (upserted rows can
    // violate); the first-writer-wins check below means the set cannot
    // have moved between validation and install
    val consBase = constraintsOf(spark, root, Some(baseV))
    writeDataDir(spark, root, newDir, newRows, consBase)
    // schema preserved: the closure's first-writer-wins check already
    // guarantees the table hasn't moved (so it can't have evolved)
    commitManifest(spark, root, latest => {
      if (!latest.contains(baseV))
        throw new java.util.ConcurrentModificationException(
          s"merge read v$baseV but table is now at v$latest — rerun")
      untouched :+ newDir
    }, _ => Some(tableSchema), _ => consBase, op = "merge")
  }

  /** Predicate DELETE with the same dir-granularity copy-on-write as
    * [[merge]]: dirs containing no matching row are kept untouched;
    * matching dirs are rewritten without the matching rows. The
    * predicate itself finds the touched dirs via one column-pruned
    * scan, so a selective delete on a 100 TB table rewrites only the
    * dirs it hits. First-writer-wins. Returns the new version (or the
    * current one when nothing matches — no empty commit).
    *
    * SQL three-valued semantics: only rows where `cond` is TRUE are
    * deleted — a NULL verdict KEEPS the row. (`filter(!cond)` would
    * silently drop NULL-cond rows, and only in dirs that also contain
    * a TRUE row — a dir-dependent data loss.) */
  def deleteWhere(spark: SparkSession, root: String,
      cond: org.apache.spark.sql.Column): Long = {
    import org.apache.spark.sql.functions.{coalesce, lit}
    rewriteTouched(spark, root, cond, "delete")(df =>
      df.filter(!coalesce(cond, lit(false))))
  }

  /** Predicate UPDATE (`SET col = expr` for each assignment), dir-
    * granularity copy-on-write like [[deleteWhere]]. Assignment
    * expressions may reference any table column.
    *
    * SQL simultaneous-assignment semantics: every RHS evaluates
    * against the PRE-update row — all assignments land in ONE select
    * over the original frame, so `SET a = b, b = a` swaps (a
    * sequential foldLeft would make b's RHS see the already-updated a,
    * with Map iteration order deciding which — nondeterministic). */
  def updateWhere(spark: SparkSession, root: String,
      cond: org.apache.spark.sql.Column,
      set: Map[String, org.apache.spark.sql.Column]): Long = {
    import org.apache.spark.sql.functions.{col, when}
    rewriteTouched(spark, root, cond, "update") { df =>
      val byLower = set.map { case (k, v) => k.toLowerCase -> v }
      require(byLower.size == set.size,
        "updateWhere: duplicate SET targets (differing only in case)")
      val unknown = set.keys.filterNot(k =>
        df.columns.exists(_.equalsIgnoreCase(k)))
      require(unknown.isEmpty,
        s"updateWhere: SET target(s) [${unknown.mkString(", ")}] are " +
          "not columns of the table — an UPDATE may not add columns")
      df.select(df.columns.map { c =>
        byLower.get(c.toLowerCase) match {
          case Some(e) => when(cond, e).otherwise(col(c)).as(c)
          case None => col(c)
        }
      }: _*)
    }
  }

  /** Shared copy-on-write core of [[deleteWhere]]/[[updateWhere]]:
    * find the data dirs with rows matching `cond`, apply `rewrite` to
    * exactly those dirs' rows, commit untouched dirs + the rewrite as
    * the next version iff the table hasn't moved. */
  private def rewriteTouched(spark: SparkSession, root: String,
      cond: org.apache.spark.sql.Column, op: String)(
      rewrite: DataFrame => DataFrame): Long = {
    import org.apache.spark.sql.functions._
    val f = fs(spark, root)
    val baseV = versions(spark, root).lastOption.getOrElse(
      throw new IllegalStateException(s"no committed version under $root"))
    val dirs = readManifest(f, root, baseV).get
    // snapshot-schema reads, as in merge: a rewrite spanning an
    // additive evolution must carry the full table schema through
    val tableSchema = schemaOfVersion(spark, root, baseV, dirs)
    val touched = graft.Engine.label(spark, s"vtab $op: touched-dir scan")(
      readDirsAs(spark, root, tableSchema, dirs)
        .filter(cond)
        .select(regexp_extract(input_file_name(), "/(data/[^/]+)/", 1)
          .as("__dir"))
        .distinct().collect().map(_.getString(0)).toSet)
    if (touched.isEmpty) return baseV
    // match by dirKey, not raw entry: a shallow clone's entries are
    // absolute source paths while input_file_name reports data/<name>
    val untouched = dirs.filterNot(d => touched(dirKey(d)))
    val newRows = rewrite(
      readDirsAs(spark, root, tableSchema,
        dirs.filter(d => touched(dirKey(d)))))
    require(normalize(newRows.schema) == tableSchema,
      s"rewrite changed the table schema (" +
        s"${normalize(newRows.schema).catalogString} vs " +
        s"${tableSchema.catalogString}) — an UPDATE may not retype or " +
        "add columns; evolve via commit(mergeSchema = true) first")
    val newDir = "data/" + java.util.UUID.randomUUID().toString
    // UPDATE can SET a column into violation — enforce baseV's
    // constraints on the rewrite (first-writer-wins pins the set)
    val consBase = constraintsOf(spark, root, Some(baseV))
    writeDataDir(spark, root, newDir, newRows, consBase)
    commitManifest(spark, root, latest => {
      if (!latest.contains(baseV))
        throw new java.util.ConcurrentModificationException(
          s"rewrite read v$baseV but table is now at v$latest — rerun")
      untouched :+ newDir
    }, _ => Some(tableSchema), _ => consBase, op = op)
  }

  /** Row-level CHANGES between two committed versions (CDC read):
    * `(change, <row>)` with `change` ∈ insert|delete; an update
    * surfaces as a delete+insert pair (no update coalescing, like a
    * changelog without primary-key knowledge).
    *
    * Scale shape: computed from the DIR DIFF only — data dirs present
    * in both manifests (the untouched bulk of the table under
    * append/merge traffic) are never read. The bag difference over the
    * changed dirs (`exceptAll` both ways) is exact for multisets.
    * A table column named `change` (any case) is refused with an
    * IllegalArgumentException naming it. */
  def changesBetween(spark: SparkSession, root: String,
      vFrom: Long, vTo: Long): DataFrame = {
    import org.apache.spark.sql.functions._
    // reversed anchors would silently return an INVERTED diff (inserts
    // reported as deletes and vice versa) — fail loudly instead
    require(vFrom <= vTo,
      s"changesBetween: from-version $vFrom is after to-version $vTo " +
        "— anchors are (exclusive-from, inclusive-to) and must ascend")
    val f = fs(spark, root)
    def dirsOf(v: Long) = readManifest(f, root, v).getOrElse(
      throw new IllegalArgumentException(s"version $v not committed"))
    val from = dirsOf(vFrom)
    val to = dirsOf(vTo)
    val onlyFrom = from.filterNot(to.toSet)
    val onlyTo = to.filterNot(from.toSet)
    // both sides read under the UNION of the two versions' schemas:
    // appends only evolve additively, but rollback can commit a LATER
    // version with a NARROWER schema, and reading the from-side dirs
    // under a narrow to-schema would silently drop the evolved
    // column's data from every delete row. The union subsumes both
    // directions; a same-name type conflict across the two versions
    // (only reachable via overwrite/rollback across generations) is a
    // CDC the dir-diff cannot express — fail loudly.
    val toSchema = schemaOfVersion(spark, root, vTo, to)
    val fromSchema = schemaOfVersion(spark, root, vFrom, from)
    val conflict = fromSchema.fields.flatMap { fd =>
      toSchema.fields.find(_.name == fd.name)
        .filter(_.dataType != fd.dataType).map(t =>
          s"${fd.name}: ${fd.dataType.catalogString} vs " +
            t.dataType.catalogString)
    }
    require(conflict.isEmpty,
      s"changesBetween($vFrom, $vTo): column types differ across the " +
        s"versions [${conflict.mkString(", ")}] — a cross-generation " +
        "diff has no row-level change representation")
    val unified = StructType(toSchema.fields ++
      fromSchema.fields.filterNot(fd =>
        toSchema.fieldNames.contains(fd.name)))
    // the feed appends `change`; a table column of that name would be
    // ambiguous (or silently replaced) in every consumer of the feed
    unified.fieldNames.find(_.equalsIgnoreCase("change")).foreach { c =>
      throw new IllegalArgumentException(
        s"changesBetween: table column `$c` collides with the feed's " +
          "`change` column — rename it to read this table's changes")
    }
    def readDirs(dd: Seq[String]) =
      if (dd.isEmpty) None
      else Some(readDirsAs(spark, root, unified, dd))
    (readDirs(onlyTo), readDirs(onlyFrom)) match {
      case (None, None) =>
        // identical dir lists: no changes; derive an empty frame with
        // the table's schema from the target snapshot
        read(spark, root, Some(vTo)).limit(0)
          .withColumn("change", lit("insert"))
      case (added, removed) =>
        val a = added.orElse(removed.map(_.limit(0))).get
        val r = removed.orElse(added.map(_.limit(0))).get
        // ONE-SHUFFLE bag diff. The textbook form — a.exceptAll(r) ∪
        // r.exceptAll(a) — plans as TWO aggregates, each over the
        // union of both sides (Spark's RewriteExceptAll), so every
        // changed-dir row is shuffled twice. The signed-count
        // aggregate below computes BOTH directions in one exchange:
        // net = count_a − count_r per distinct row; net > 0 emits
        // `net` inserts (exactly exceptAll's max(count_a − count_r,
        // 0) multiplicity), net < 0 emits −net deletes, net = 0
        // (rows present equally in both snapshots) vanishes. NULLs
        // group as equal, the same rule exceptAll uses. At 100 TB
        // this halves the shuffle of every CDC read.
        // Replication is CHUNKED (outer × inner generate, arrays ≤
        // 4096): a single sequence(1, net) would materialize one
        // net-element array per row — exceptAll's ReplicateRows
        // streams, and a changed dir CAN legally hold millions of
        // copies of one row.
        // working columns get a prefix no table column starts with
        // (case-insensitively), so none can replace a user column
        val cols = a.columns.toSeq
        val pre = Iterator.iterate("__cdc")("_" + _).find(p =>
          !cols.exists(_.toLowerCase.startsWith(p.toLowerCase))).get
        val (sign, net, n, c) =
          (s"${pre}_sign", s"${pre}_net", s"${pre}_n", s"${pre}_c")
        a.withColumn(sign, lit(1L))
          .unionByName(r.withColumn(sign, lit(-1L)))
          .groupBy(cols.map(col): _*)
          .agg(sum(col(sign)).as(net))
          .filter(col(net) =!= 0L)
          .select(cols.map(col) :+
            when(col(net) > 0L, lit("insert")).otherwise(lit("delete"))
              .as("change") :+ abs(col(net)).as(n): _*)
          .withColumn(c, explode(expr(s"sequence(0L, ($n - 1L) div 4096L)")))
          .withColumn(s"${pre}_dup",
            explode(expr(s"sequence(1L, least($n - $c * 4096L, 4096L))")))
          .select(cols.map(col) :+ col("change"): _*)
    }
  }

  /** Rewrite the latest snapshot's dirs into ONE data dir (the
    * small-file compaction a log-of-snapshots table accretes toward
    * after many append/merge commits), committed as a new version with
    * identical content — history stays time-travelable. `nFiles > 0`
    * additionally coalesces the output file count. No-op (returns the
    * current version) when the snapshot is already one dir and no
    * file-count target is given. First-writer-wins like [[merge]]. */
  def compact(spark: SparkSession, root: String, nFiles: Int = 0): Long = {
    val f = fs(spark, root)
    val baseV = versions(spark, root).lastOption.getOrElse(
      throw new IllegalStateException(s"no committed version under $root"))
    val dirs = readManifest(f, root, baseV).get
    if (dirs.size <= 1 && nFiles <= 0) return baseV
    // snapshot-schema read: compacting an additively-evolved table
    // must write the UNION schema, not an arbitrary first footer's —
    // a narrow footer winning would erase the evolved column table-wide
    val tableSchema = schemaOfVersion(spark, root, baseV, dirs)
    val snap = readDirsAs(spark, root, tableSchema, dirs)
    val out = if (nFiles > 0) snap.coalesce(nFiles) else snap
    val newDir = "data/" + java.util.UUID.randomUUID().toString
    // content-identical rewrite of already-valid rows: constraints
    // carried, not re-enforced (validation would be a free metric but
    // a false rejection here could wedge maintenance; trust the gate
    // that admitted the rows)
    val consBase = constraintsOf(spark, root, Some(baseV))
    writeDataDir(spark, root, newDir, out)
    commitManifest(spark, root, latest => {
      if (!latest.contains(baseV))
        throw new java.util.ConcurrentModificationException(
          s"compact read v$baseV but table is now at v$latest — rerun")
      Seq(newDir)
    }, _ => Some(tableSchema), _ => consBase, op = "compact")
  }

  /** OPTIMIZE ZORDER: rewrite the latest snapshot into one data dir
    * laid out on the N-D Z-curve of `zCols` — [[compact]] plus the
    * Delta `OPTIMIZE ... ZORDER BY` idea on the manifest protocol.
    * Content-identical new version; range predicates on any curve
    * column then cluster into few files, which file-level min/max
    * pruning ([[Layout.buildFileStats]]/[[Layout.statsRangeScan]]),
    * the per-dir stats sidecars, and parquet row-group stats all
    * exploit. Per-dimension resolution is `bits` capped so the word
    * fits 63 bits (more columns = coarser per-column, the standard
    * multi-column Z-order tradeoff). The rewrite is a range exchange
    * on the z-value + per-partition sort — fully parallel at any
    * table size. First-writer-wins like [[merge]]. */
  def optimizeZOrder(spark: SparkSession, root: String,
      zCols: Seq[String], nFiles: Int, bits: Int = 20): Long = {
    import org.apache.spark.sql.functions.col
    require(zCols.nonEmpty, "optimizeZOrder needs at least one column")
    val f = fs(spark, root)
    val baseV = versions(spark, root).lastOption.getOrElse(
      throw new IllegalStateException(s"no committed version under $root"))
    val dirs = readManifest(f, root, baseV).get
    // snapshot-schema read — same reason as [[compact]]
    val tableSchema = schemaOfVersion(spark, root, baseV, dirs)
    val snap = readDirsAs(spark, root, tableSchema, dirs)
    val perDim = math.min(bits, 63 / zCols.size)
    val ordered = snap
      .withColumn("__z",
        Layout.zValueN(zCols.map(col), perDim))
      .repartitionByRange(nFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
    val newDir = "data/" + java.util.UUID.randomUUID().toString
    // content-identical rewrite: carry constraints, same as [[compact]]
    val consBase = constraintsOf(spark, root, Some(baseV))
    writeDataDir(spark, root, newDir, ordered)
    commitManifest(spark, root, latest => {
      if (!latest.contains(baseV))
        throw new java.util.ConcurrentModificationException(
          s"optimize read v$baseV but table is now at v$latest — rerun")
      Seq(newDir)
    }, _ => Some(tableSchema), _ => consBase, op = "optimize")
  }

  /** Incremental CDC consumer: process every version committed since
    * the last run as ONE change frame, then advance the cursor — the
    * downstream-pipeline tailer (feed a summary via
    * [[graft.plans.AggRouting.maintainSummaryFromCdc]], export a
    * changelog, sync a serving store) without a long-running streaming
    * query. `f` receives `(changes, toVersion)`; the cursor advances
    * only AFTER `f` returns, so delivery is at-least-once — make `f`
    * idempotent per `toVersion` (e.g. a keyed [[commit]]/[[merge]]).
    * Returns the new cursor. A cursor version that has been vacuumed
    * away throws — retention must outlive consumer lag, the same
    * contract Delta/Kafka impose. */
  def processNewVersions(spark: SparkSession, root: String,
      cursorFile: String)(f: (DataFrame, Long) => Unit): Long = {
    val latest = versions(spark, root).lastOption.getOrElse(return 0L)
    val cursorPath = java.nio.file.Paths.get(cursorFile)
    val last =
      if (java.nio.file.Files.exists(cursorPath))
        new String(java.nio.file.Files.readAllBytes(cursorPath),
          "UTF-8").trim.toLong
      else 0L
    if (latest <= last) return last
    val changes =
      if (last == 0L) // no cursor yet: the whole current snapshot is new
        read(spark, root, Some(latest))
          .withColumn("change", org.apache.spark.sql.functions.lit("insert"))
      else changesBetween(spark, root, last, latest)
    f(changes, latest)
    val tmp = cursorPath.resolveSibling(
      s".${cursorPath.getFileName}.${java.util.UUID.randomUUID()}.tmp")
    java.nio.file.Files.createDirectories(cursorPath.getParent)
    java.nio.file.Files.write(tmp, latest.toString.getBytes("UTF-8"))
    java.nio.file.Files.move(tmp, cursorPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    latest
  }

  /** In-flight-commit grace for [[vacuum]]: a data dir referenced by
    * NO manifest at all is EITHER debris from a crashed write OR a
    * commit in flight ([[commit]] lands its data dir before the
    * manifest CAS) — deleting the latter would corrupt the commit the
    * instant its manifest wins the race. Never-referenced dirs younger
    * than this are left for a later vacuum; dirs referenced by a
    * DROPPED manifest are provably superseded and reclaimed regardless
    * of age. Same design as Delta's VACUUM file-age retention, scoped
    * to whole dirs. */
  val DefaultOrphanGraceMs: Long = 10L * 60 * 1000

  /** Reclaim data dirs referenced by NO retained manifest, keeping the
    * last `keepVersions` manifests (older manifests are dropped first,
    * which is what bounds time travel). Returns deleted dir count.
    *
    * Concurrency contract (the race law in VersionedTableSpec): a
    * concurrent commit is safe ([[DefaultOrphanGraceMs]] protects its
    * in-flight dirs; its manifest CAS never references dropped state);
    * concurrent time-travel readers and CDC tailers of RETAINED
    * versions are safe; a reader/tailer positioned on a version this
    * call drops gets a clean error (missing manifest / missing-file
    * scan failure), never silently partial data — retention must
    * outlive reader and consumer lag, the Delta/Kafka contract. */
  def vacuum(spark: SparkSession, root: String,
      keepVersions: Int = 2,
      orphanGraceMs: Long = DefaultOrphanGraceMs): Int = {
    require(keepVersions >= 1, "must retain at least the latest version")
    val f = fs(spark, root)
    val all = versions(spark, root)
    val (drop, keep) = all.splitAt(math.max(0, all.size - keepVersions))
    // read the manifests being dropped BEFORE deleting them: a dir
    // they reference is superseded-by-construction and safe to
    // reclaim immediately, age notwithstanding
    val dropped = drop.flatMap(readManifest(f, root, _)).flatten.toSet
    drop.foreach(v => f.delete(manifestPath(root, v), false))
    val live = keep.flatMap(readManifest(f, root, _)).flatten.toSet
    val dataRoot = new Path(root, "data")
    if (!f.exists(dataRoot)) return 0
    val now = System.currentTimeMillis()
    val orphans = f.listStatus(dataRoot).toSeq
      .filter { st =>
        val rel = s"data/${st.getPath.getName}"
        !live.contains(rel) && (dropped.contains(rel) ||
          now - st.getModificationTime >= orphanGraceMs)
      }
      .map(_.getPath)
    orphans.foreach(p => f.delete(p, true))
    orphans.size
  }
}
