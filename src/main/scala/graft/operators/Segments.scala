package graft.operators

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The base-plus-deltas store format shared by every maintained index
  * (IVF vectors, BM25 postings and doc lengths, the streaming
  * substring-fingerprint store) and the one crash-safe way to replace
  * a live directory (their compactions and the Kappa replay): a static
  * main segment, per-batch deltas written beside it, and a merge at
  * compaction.
  *
  * Index layout under `indexDir`: each maintained table `<t>` has a
  * base dir `<t>` and per-batch deltas `<t>_delta/__batch=<seq>`;
  * `tombstones/__batch=<seq>` lists every id a batch superseded; the
  * `_maint/seq` counter names the highest committed batch and its
  * presence is the readers' maintained? switch. [[commitBatch]] writes
  * a batch, [[resolveDeltaTable]] reads the live rows, [[dropOverlay]]
  * clears the overlay after a compaction.
  *
  * Directory replacement. The live base is NEVER deleted in place — an
  * rmrf that dies half-way leaves a partially-listed directory that
  * READS as silently missing rows. Instead both sides of the swap are
  * renames on the base's Hadoop `FileSystem` (so non-local stores swap
  * too), every one checked — Hadoop reports a failed rename by
  * returning false:
  *
  *   1. the rewrite lands fully at `<base>_compacting`;
  *   2. the live base is renamed ASIDE to `<base>_precompact`;
  *   3. the staged dir is renamed IN to `<base>`;
  *   4. the aside copy is deleted (inert once the base exists again).
  *
  * No rename may land on an existing directory: Hadoop renames a
  * directory INTO an existing one, nesting it. Step 2 clears aside
  * debris first and step 3 runs only once `<base>` is gone.
  *
  * Crash windows, all readable:
  *   - during 1: base (and overlay) intact, the partial staged dir is
  *     debris — [[recover]] clears it and the next write overwrites it;
  *   - between 2 and 3: the base is momentarily ABSENT — readers fall
  *     back ([[readable]]) to the aside copy (the exact pre-swap base,
  *     still correct under the on-disk overlay, which is only dropped
  *     after the swap), and [[recover]] completes the swap: the aside
  *     rename happens only after the staged write finished, so a
  *     present aside dir PROVES the staged rewrite is complete. With no
  *     base to move aside (a store's first compaction) the staged
  *     writer's `_SUCCESS` marker is the proof instead — promoting a
  *     half-written staged dir would wedge every later read;
  *   - during/after 4: base is the compacted data; a surviving aside
  *     dir or overlay is inert (the overlay re-applies idempotently over
  *     the compacted base) and is reclaimed by [[dropOverlay]] / the
  *     next [[recover]]. */
private[graft] object Segments {

  private def fsOf(p: Path): FileSystem =
    p.getFileSystem(SparkSession.active.sessionState.newHadoopConf())

  private def staged(base: String): Path = new Path(s"${base}_compacting")
  private def aside(base: String): Path = new Path(s"${base}_precompact")

  /** Replace the live dir `base` by `write`'s output: [[recover]] an
    * earlier crash, `write` the staged dir (the path it is given), then
    * [[swap]] it in. */
  def replace(base: String)(write: String => Unit): Unit = {
    recover(base)
    write(staged(base).toString)
    swap(staged(base).toString, base)
  }

  /** Steps 2–4: move `base` aside, move `staged` in, drop the aside
    * copy. A missing `base` (a first write, or a crash between the
    * renames of an earlier swap) is simply filled. */
  def swap(staged: String, base: String): Unit = {
    val b = new Path(base)
    val a = aside(base)
    val fs = fsOf(b)
    if (fs.exists(b)) {
      fs.delete(a, true) // debris of an earlier crash: the live base wins
      require(fs.rename(b, a), s"swap: rename $b -> $a failed; base intact")
    }
    require(fs.rename(new Path(staged), b),
      s"swap: rename $staged -> $b failed; the old base is at $a")
    fs.delete(a, true)
    ()
  }

  /** Repair a swap that crashed, then clear its debris — harmless on a
    * clean dir. A complete staged dir (aside copy present, or its
    * writer's `_SUCCESS`) is promoted when `base` is missing; otherwise
    * a stranded aside copy is restored. Once `base` exists, the aside
    * copy is debris; a staged dir left over is always debris. */
  def recover(base: String): Unit = {
    val b = new Path(base)
    val (s, a) = (staged(base), aside(base))
    val fs = fsOf(b)
    if (!fs.exists(b) && fs.exists(s) &&
        (fs.exists(a) || fs.exists(new Path(s, "_SUCCESS"))))
      require(fs.rename(s, b), s"recover: rename $s -> $b failed")
    if (!fs.exists(b) && fs.exists(a))
      require(fs.rename(a, b), s"recover: rename $a -> $b failed")
    if (fs.exists(b)) fs.delete(a, true)
    fs.delete(s, true)
    ()
  }

  /** The readable form of a possibly-mid-swap base: the base itself
    * when it has data; otherwise the pre-swap aside copy (correct
    * under the overlay, which outlives the swap); otherwise the
    * completed staged rewrite (equally correct — the overlay
    * re-applies idempotently). Read-only: readers never repair. */
  def readable(base: String): String =
    Seq(base, aside(base).toString, staged(base).toString)
      .find(hasParquetFile).getOrElse(base)

  /** Any parquet part file VISIBLE TO SPARK'S READER under `dir`
    * (driver-side walk, bounded by batches-since-compaction ×
    * buckets-touched)? Guards the delta reads: a delete-only history
    * has tombstone rows but possibly not one inserted vector, and
    * schema inference needs at least one file. Hidden paths
    * (`_temporary` staging, dot-files) are skipped exactly as Spark's
    * file index skips them — counting them would send the reader into
    * a dir it then finds empty (AnalysisException on a crashed batch's
    * staging debris). */
  def hasParquetFile(dir: String): Boolean = firstParquetFile(dir).isDefined

  /** The first such part file under `dir`, walking names in order. */
  private def firstParquetFile(dir: String): Option[FileStatus] = {
    val p = new Path(dir)
    firstParquetFile(fsOf(p), p)
  }

  private def firstParquetFile(fs: FileSystem, dir: Path): Option[FileStatus] =
    if (!fs.exists(dir)) None
    else fs.listStatus(dir).sortBy(_.getPath.getName).iterator.filter { f =>
      // Spark's listing rule: underscore/dot names are hidden UNLESS
      // they contain '=' (partition dirs — __batch=N must survive)
      val n = f.getPath.getName
      !((n.startsWith("_") || n.startsWith(".")) && !n.contains("="))
    }.flatMap { f =>
      if (f.isFile) Some(f).filter(_.getPath.getName.endsWith(".parquet"))
      else firstParquetFile(fs, f.getPath)
    }.nextOption()

  /** `spark.read.parquet(dir)` over a dir this engine's writers fixed,
    * without the schema-inference job Spark schedules per read: the
    * data columns come from one footer read on the driver
    * ([[graft.Engine.fileSchema]]); partition columns (`__batch`,
    * `bucket`, `shard`) are still discovered from the paths, with the
    * types inference gives them. Every file under such a dir holds its
    * writer's one schema, so any footer is the one inference would
    * read. Without a data file, Spark infers (and raises) as before. */
  def read(spark: SparkSession, dir: String): DataFrame =
    firstParquetFile(dir).fold(spark.read.parquet(dir))(f =>
      spark.read.schema(graft.Engine.fileSchema(spark, f)._1).parquet(dir))

  // ------------------------------------------------ the delta overlay

  /** Drop the maintenance overlay of an index whose maintained tables
    * are `tables`: `_maint`, the tombstones and each `<t>_delta`.
    * `_maint` goes FIRST (the readers' maintained? switch): once it is
    * gone, readers take the base-only path and the leftover dirs are
    * inert — any survivor of a crash here is invisible (stale
    * `__batch` dirs sit above a fresh counter until that seq is
    * re-reached, at which point the upsert OVERWRITES the dir before
    * committing it).
    * Deleting tombstones or deltas BEFORE `_maint` would create windows
    * where the overlay half-applies (tombstones without deltas kill
    * every recently-upserted id). */
  def dropOverlay(indexDir: String, tables: Seq[String]): Unit =
    ("_maint" +: "tombstones" +: tables.map(t => s"${t}_delta"))
      .foreach(d => rmrf(new java.io.File(s"$indexDir/$d")))

  /** One maintenance batch: take `seq = committedSeq + 1`, let
    * `writeDeltas(seq)` write each table's [[deltaDir]], tombstone
    * every changed id at `seq` (deletes die; the batch's own inserts
    * survive the `<=` comparison), then commit by advancing the
    * counter. Returns the seq.
    *
    * CRASH-IDEMPOTENT: each batch lands in its own `__batch=<seq>`
    * directories, written with per-directory OVERWRITE, and the counter
    * is written last. A maintainer that dies mid-batch leaves the
    * counter unadvanced, so the at-least-once redelivery recomputes the
    * SAME seq and overwrites the partial directories instead of
    * appending duplicates (the tombstone resolve keeps ALL rows of the
    * winning seq — a duplicate would surface in every probe). */
  def commitBatch(indexDir: String, changes: DataFrame, idCol: String)(
      writeDeltas: Long => Unit): Long = {
    new java.io.File(s"$indexDir/_maint").mkdirs()
    val seq = committedSeq(indexDir) + 1
    writeDeltas(seq)
    graft.Engine.label(changes.sparkSession, "index upsert: tombstones")(
      changes.select(col(idCol)).distinct()
        .write.mode("overwrite")
        .parquet(s"$indexDir/tombstones/__batch=$seq"))
    writeSeq(indexDir, seq)
    seq
  }

  /** Batch `seq`'s delta dir of the maintained table at `basePath`. */
  def deltaDir(basePath: String, seq: Long): String =
    s"${basePath}_delta/__batch=$seq"

  /** Highest COMMITTED maintenance batch (the seq counter file); a
    * `__batch` directory above it is a crashed writer's partial batch,
    * awaiting its redelivery. */
  private def committedSeq(indexDir: String): Long = {
    val seqFile = java.nio.file.Paths.get(s"$indexDir/_maint/seq")
    if (java.nio.file.Files.exists(seqFile))
      new String(java.nio.file.Files.readAllBytes(seqFile), "UTF-8")
        .trim.toLong
    else 0L
  }

  /** Advance the seq counter ATOMICALLY (tmp + ATOMIC_MOVE). The
    * counter is the maintenance protocol's commit point and is read by
    * every probe, so an in-place truncate-then-write would leave a
    * zero-length file on a crash mid-write — bricking both probes and
    * the redelivery that is supposed to repair the crash. A Hadoop
    * rename cannot replace it: rename does not overwrite, and
    * delete-then-rename opens a window where probes read seq 0 and a
    * redelivered batch reuses seq 1. */
  private def writeSeq(indexDir: String, seq: Long): Unit = {
    val seqFile = java.nio.file.Paths.get(s"$indexDir/_maint/seq")
    val tmp = seqFile.resolveSibling(
      s".seq.${java.util.UUID.randomUUID()}.tmp")
    java.nio.file.Files.write(tmp, seq.toString.getBytes("UTF-8"))
    java.nio.file.Files.move(tmp, seqFile,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    ()
  }

  /** A maintained index table's LIVE rows: base ∪ committed
    * `__batch=<seq>` delta partitions under `<basePath>_delta/` (base
    * rows are seq 0; a delta row's seq is its partition-directory
    * value — a directory name, so a partial rewrite can't lie about
    * it), last-writer-wins against the broadcast tombstone list
    * (bounded by churn since the last compaction). Read-committed:
    * `__batch` partitions above the seq counter are a crashed writer's
    * partial batch — the filter is on a partition column, so they are
    * PRUNED outright, never scanned. Never-maintained indexes return
    * the raw base untouched; bucket/shard filters prune partitions of
    * the base and every delta batch alike. */
  def resolveDeltaTable(spark: SparkSession, indexDir: String,
      basePath: String, idCol: String): DataFrame = {
    val base = read(spark, readable(basePath))
    if (!new java.io.File(s"$indexDir/_maint").exists()) return base
    val committed = committedSeq(indexDir)
    val raw =
      if (!hasParquetFile(s"${basePath}_delta"))
        base.withColumn("__seq", lit(0L))
      else base.withColumn("__seq", lit(0L)).unionByName(
        read(spark, s"${basePath}_delta")
          .filter(col("__batch").cast("long") <= committed)
          .withColumn("__seq", col("__batch").cast("long"))
          .drop("__batch"))
    if (!hasParquetFile(s"$indexDir/tombstones"))
      return raw.drop("__seq")
    val tmax = read(spark, s"$indexDir/tombstones")
      .filter(col("__batch").cast("long") <= committed)
      .groupBy(idCol)
      .agg(max(col("__batch").cast("long")).as("__tmax"))
    raw.join(broadcast(tmax), Seq(idCol), "left")
      .filter(col("__tmax").isNull || col("__tmax") <= col("__seq"))
      .drop("__tmax", "__seq")
  }

  def rmrf(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(rmrf)
    f.delete(); ()
  }
}
