package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-layout operators: multi-dimensional clustering for scan
  * pruning (SURVEY.md §2.1 storage adjunct).
  *
  * Partitioning prunes on ONE column hierarchy; a Z-order (Morton)
  * layout clusters files on TWO dimensions at once, so parquet
  * min/max footer stats let a 2-D box predicate skip most files —
  * the Delta/Iceberg `OPTIMIZE ZORDER BY` capability, built from
  * plain Spark: interleave the key bits, range-partition on the
  * interleaved value, sort within partitions, write.
  *
  * At 100 TB: the rewrite is one range-exchange of the table (the
  * same cost as any repartition), paid once; every later box query
  * reads ~O(perimeter) files instead of O(table). */
object Layout {

  /** Morton interleave of two non-negative integer columns, `bits`
    * bits each (values are masked to `bits`, so out-of-domain inputs
    * degrade to coarser clustering instead of corrupting order).
    * Pure bit arithmetic — codegen'd, no UDF. */
  def zValue(x: Column, y: Column, bits: Int = 20): Column = {
    require(bits >= 1 && bits <= 31, s"bits must be in [1,31], got $bits")
    zValueN(Seq(x, y), bits)
  }

  /** N-dimensional Morton interleave: bit b of column i lands at
    * position `b * n + i`, so all N columns share the curve equally.
    * `bits * n` must fit the 63 usable bits of a signed long —
    * the same coarsen-don't-corrupt masking as the 2-D form. More
    * dimensions = coarser per-dimension resolution at fixed word
    * width, the standard Z-order tradeoff (Delta's multi-column
    * OPTIMIZE ZORDER BY makes the same one). */
  def zValueN(cols: Seq[Column], bits: Int): Column = {
    val n = cols.size
    require(n >= 1, "need at least one column")
    require(bits >= 1 && n * bits <= 63,
      s"$n cols x $bits bits exceeds a long's 63 usable bits")
    cols.zipWithIndex.flatMap { case (c, i) =>
      (0 until bits).map { b =>
        shiftleft(
          shiftrightunsigned(c.cast("long"), b).bitwiseAND(lit(1L)),
          b * n + i)
      }
    }.reduce(_ bitwiseOR _)
  }

  /** `df` range-partitioned into `nFiles` partitions on the Z-order of
    * `cols` and sorted within each, both keyed on the z expression
    * itself — no working column replaces or drops a column of `df`. */
  private[operators] def zOrdered(df: DataFrame, cols: Seq[String],
      nFiles: Int, bits: Int): DataFrame = {
    val z = zValueN(cols.map(col), bits)
    df.repartitionByRange(nFiles, z).sortWithinPartitions(z)
  }

  /** Rewrite `df` as `nFiles` parquet files clustered by the Z-order
    * of (colX, colY) — [[zOrdered]] written out. */
  def writeZOrdered(df: DataFrame, path: String, colX: String,
      colY: String, nFiles: Int, bits: Int = 20): Unit =
    zOrdered(df, Seq(colX, colY), nFiles, bits)
      .write.mode("overwrite").parquet(path)

  // --------------------------------------------- file-level inverted index

  /** Druid-style secondary index (`docs/olap.md:35` 倒排/bitmap),
    * re-expressed at Spark's natural pruning granularity — the FILE:
    * a persisted `(value → sorted file list)` table for one column of
    * a parquet directory. Point/IN predicates on the indexed column
    * then resolve their file set on the driver and scan ONLY those
    * paths ([[indexedScan]]) — no listing, footer, or row-group I/O on
    * the rest of the table, and unlike partitioning it works for any
    * number of indexed columns without re-laying-out the data.
    *
    * Build cost/shape: one scan + one distinct on (value, file) — 8-ish
    * bytes × distinct pairs through the shuffle, the same one-time cost
    * class as any index. Effectiveness tracks value-to-file clustering
    * exactly like Druid's segment-level bitmaps track time clustering:
    * index columns the layout clusters (write-sorted, z-ordered, or
    * naturally arrival-ordered ids/dates); a value smeared across every
    * file prunes nothing — which [[indexedScan]] detects and handles by
    * falling back to the plain pushed-filter scan. */
  def buildFileIndex(spark: org.apache.spark.sql.SparkSession,
      tablePath: String, column: String, indexPath: String): Unit =
    spark.read.parquet(tablePath)
      .select(col(column).as("v"), input_file_name().as("f"))
      .distinct()
      .groupBy("v").agg(sort_array(collect_set(col("f"))).as("files"))
      .write.mode("overwrite").parquet(indexPath)

  /** Point/IN scan through a [[buildFileIndex]] index: look up the
    * predicate values (bounded driver collect — |values| rows), prune
    * the scan to the union of their file lists, and re-apply the
    * predicate (files contain other values too). When the index says
    * more than `maxFileFraction` of the table's files match, pruning
    * buys nothing — fall back to the ordinary full-path scan and let
    * parquet pushdown do the work (also the row-count-preserving
    * answer for values absent from the index: zero files, zero rows,
    * schema intact). */
  def indexedScan(spark: org.apache.spark.sql.SparkSession,
      tablePath: String, indexPath: String, column: String,
      values: Seq[Any], maxFileFraction: Double = 0.5): DataFrame = {
    val full = spark.read.parquet(tablePath)
    val pred = col(column).isin(values: _*)
    val idx = spark.read.parquet(indexPath)
    // STALENESS GUARD: the index is a snapshot — rows in files appended
    // after the build would be silently invisible to a pruned scan
    // (undetectable from the matched file lists alone). The index's
    // complete file universe is cheap to enumerate (index rows, not
    // table rows); any difference from the table's current listing —
    // appends, compaction renames — voids the snapshot and the scan
    // falls back to the plain pushed-filter read. Rebuild the index
    // after appends to regain pruning.
    val covered = idx.select(explode(col("files")).as("f"))
      .distinct().collect().map(r => normFile(r.getString(0))).toSet
    if (covered != full.inputFiles.map(normFile).toSet)
      return full.filter(pred)
    val files = idx
      .filter(col("v").isin(values: _*))
      .select(explode(col("files")).as("f"))
      .distinct().collect().map(_.getString(0))
    if (files.isEmpty) return full.filter(lit(false))
    val total = full.inputFiles.length
    if (total > 0 && files.length.toDouble / total > maxFileFraction)
      full.filter(pred)
    else
      prunedRead(spark, tablePath, full, files).filter(pred)
  }

  /** Scheme-normalized file path (input_file_name() and
    * DataFrame.inputFiles render `file:` URIs with different slash
    * counts). */
  private def normFile(f: String): String =
    f.replaceFirst("^file:/+", "/")

  /** Read an explicit file subset of `tablePath` with the table's full
    * schema. `basePath` keeps Hive-style partition discovery working on
    * the leaf-file listing — without it, partition columns (present in
    * the directory names, not the files) would come back NULL in every
    * row and the re-applied predicate would silently drop everything. */
  private def prunedRead(spark: org.apache.spark.sql.SparkSession,
      tablePath: String, full: DataFrame, files: Array[String]): DataFrame =
    spark.read.option("basePath", tablePath).schema(full.schema)
      .parquet(files.toIndexedSeq: _*)

  // ------------------------------------------ file-level min/max stats

  /** Range-predicate companion to [[buildFileIndex]]: a persisted
    * `(file, min, max)` table for one column — the Delta/Iceberg
    * data-skipping-stats idea as a plain parquet table. Parquet
    * footers already carry these stats, but at 100 TB the listing +
    * footer reads themselves are the bottleneck a range scan pays
    * before pruning anything; this table answers "which files can
    * hold [lo, hi]" with one tiny scan. Build is a single
    * partial-aggregated pass (one row per file through the shuffle).
    * Like the inverted index, effectiveness tracks value-to-file
    * clustering: build it on write-sorted / range-clustered / z-order
    * columns. */
  def buildFileStats(spark: org.apache.spark.sql.SparkSession,
      tablePath: String, column: String, statsPath: String): Unit =
    spark.read.parquet(tablePath)
      .groupBy(input_file_name().as("f"))
      .agg(min(col(column)).as("mn"), max(col(column)).as("mx"))
      .write.mode("overwrite").parquet(statsPath)

  /** Range scan through a [[buildFileStats]] table: keep files whose
    * [min, max] envelope intersects `[lo, hi]`, scan only those, and
    * re-apply the predicate (an envelope hit is necessary, not
    * sufficient). All-null files carry null stats and are correctly
    * skipped (no row in them can satisfy a range predicate). Same
    * `maxFileFraction` fallback to the plain pushed-filter scan as
    * [[indexedScan]] when the range is unselective. */
  def statsRangeScan(spark: org.apache.spark.sql.SparkSession,
      tablePath: String, statsPath: String, column: String,
      lo: Any, hi: Any, maxFileFraction: Double = 0.5): DataFrame = {
    val full = spark.read.parquet(tablePath)
    val pred = col(column) >= lit(lo) && col(column) <= lit(hi)
    val stats = spark.read.parquet(statsPath)
    // same staleness guard as [[indexedScan]]: the stats table is one
    // row per file at build time; a listing that differs (appended or
    // rewritten files) voids the snapshot — full scan, never silently
    // dropped rows
    val covered = stats.select("f").distinct().collect()
      .map(r => normFile(r.getString(0))).toSet
    if (covered != full.inputFiles.map(normFile).toSet)
      return full.filter(pred)
    val files = stats
      .filter(col("mx") >= lit(lo) && col("mn") <= lit(hi))
      .select("f").collect().map(_.getString(0))
    if (files.isEmpty) return full.filter(lit(false))
    val total = full.inputFiles.length
    if (total > 0 && files.length.toDouble / total > maxFileFraction)
      full.filter(pred)
    else
      prunedRead(spark, tablePath, full, files).filter(pred)
  }
}
