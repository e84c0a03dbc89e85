package perfbench

import scala.collection.mutable
import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.operators.{Cube, Similarity, TextOps, VersionedTable}

/** `ingest_cdc`: one client applies seeded CDC micro-batches through
  * the functions the `StreamOps` sinks wrap, called directly so no
  * trigger clock sets the pace.
  *
  * Per batch (`refresh`): lineitem upserts go to
  * [[VersionedTable.merge]] and deletes to [[VersionedTable.deleteWhere]];
  * the table's own change feed between the two versions
  * ([[VersionedTable.changesBetween]], signed ±1) is folded into the
  * cuboid lattice by [[Cube.maintainLattice]] and each cuboid is
  * committed, as `latticeMaintenanceSink` does; document changes go to
  * [[TextOps.invertedIndexUpsert]] and embedding changes to
  * [[Similarity.ivfUpsert]]. Then (`read`) the client reads its own
  * write: the touched keys as of the new version, and the change feed
  * of the batch. Every `compact_every` batches (`compact`) the table is
  * rewritten into one file and both indexes are compacted.
  *
  * Writes are committed exactly as the engine commits them (no fsync;
  * data is left in the page cache), the same on both sides of any
  * comparison.
  */
object IngestCdc {
  private val Keys = Seq("l_orderkey", "l_linenumber")
  private val BaseDims = Seq("rf", "ls", "sd")
  private val Cuboids = Seq(Seq("rf", "ls"), Seq("sd"))
  private val Measures = Seq(
    Cube.MeasureDef("n", Cube.MSum, col("sgn")),
    Cube.MeasureDef("qty", Cube.MSum, col("sq")))
  private val Shards = 4
  private val Planes = 4
  private val ProbeTerms = Seq("spark", "join", "vector")

  /** Number of committed versioned-table manifests under `dir`. */
  def manifests(dir: String): Long = {
    def walk(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles).getOrElse(Array.empty[java.io.File])
        .map(walk).sum
      else if (f.getParentFile.getName == "_vlog" && f.getName.endsWith(".manifest")) 1L
      else 0L
    walk(new java.io.File(dir))
  }

  private def key: Column = col("l_orderkey") * 8 + col("l_linenumber")

  /** Lineitem rows as signed lattice facts. */
  private def facts(df: DataFrame, sign: Column): DataFrame = df.select(
    col("l_returnflag").as("rf"), col("l_linestatus").as("ls"),
    col("l_shipdate").cast("date").as("sd"), sign.cast("long").as("sgn"),
    (col("l_quantity").cast(DecimalType(18, 2)) * sign)
      .cast(DecimalType(18, 2)).as("sq"))

  private def bytesWritten: Long =
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file").map(_.getBytesWritten).sum

  final case class Roots(table: String, lattice: String, bm25: String, ivf: String) {
    def cuboid(dims: Seq[String]): String = s"$lattice/${dims.mkString("_")}"
    def all: Seq[String] = Seq(table, lattice, bm25, ivf)
  }

  private def commitLattice(spark: SparkSession, r: Roots,
      lattice: Map[Seq[String], DataFrame], batch: Int): Unit =
    (Cuboids :+ BaseDims).foreach { d =>
      VersionedTable.commit(spark, r.cuboid(d), lattice(d), overwrite = true,
        idempotencyKey = Some(s"cub-$batch"))
    }

  /** The initial table, lattice and both indexes; independent, so
    * built concurrently. */
  private def build(ctx: Ctx, in: String, r: Roots): Unit = {
    val spark = ctx.spark
    val li = spark.read.parquet(s"$in/lineitem0.parquet")
    ctx.parallel(
      () => { VersionedTable.commit(spark, r.table, li); () },
      () => {
        val base = facts(li, lit(1)).groupBy(BaseDims.map(col): _*)
          .agg(Measures.head.base, Measures.tail.map(_.base): _*)
        commitLattice(spark, r, Map(BaseDims -> base) ++
          Cuboids.map(d => d -> Cube.derive(base, d, Measures)), 0)
      },
      () => TextOps.buildInvertedIndex(spark.read.parquet(s"$in/docs0.parquet"), r.bm25,
        shards = Shards),
      () => Similarity.ivfBuildIndex(spark.read.parquet(s"$in/emb0.parquet"), r.ivf,
        planes = Planes))
  }

  private def sortedRows(df: DataFrame): Seq[String] =
    Main.canonRows(df.collect().toSeq).sorted

  /** Equal as multisets: nothing left over either way. */
  private def sameRows(a: DataFrame, b: DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val in = ctx.str("input")
    val every = ctx.cfg.get("compact_every").asInt
    val batches = ctx.cfg.get("batches").elements.asScala.toIndexedSeq
      .map(b => (b.get("dir").asText, b.get("bytes").asLong))
    val st = ctx.cfg.get("state")
    val r = Roots(st.get("table").asText, st.get("lattice").asText, st.get("bm25").asText,
      st.get("ivf").asText)

    val reads = mutable.ArrayBuffer.empty[(Int, Seq[String])]
    val versions = mutable.ArrayBuffer.empty[Long]
    var inputBytes = 0L

    /** Apply batch `i` (1-based): refresh, read-your-write and, every
      * `compact_every` batches, compaction, each a measured operation. */
    def cycle(i: Int): Unit = {
      def step[T](cls: String)(f: => T): Option[T] = ctx.op(cls, s"b$i")(f)
      val (dir, bytes) = batches(i - 1)
      val vPrev = versions.last
      val upserts = spark.read.parquet(s"$dir/upsert.parquet")
      val dels = spark.read.parquet(s"$dir/delete.parquet").collect().map(_.getLong(0))
      val docs = spark.read.parquet(s"$dir/docs.parquet")
      val embs = spark.read.parquet(s"$dir/emb.parquet")
      val refreshed = step("refresh") {
        tr.span("vtab.merge")(VersionedTable.merge(spark, r.table, upserts, Keys))
        val vNew = tr.span("vtab.delete")(
          VersionedTable.deleteWhere(spark, r.table, key.isin(dels.toSeq: _*)))
        val delta = tr.span("vtab.changes")(
          VersionedTable.changesBetween(spark, r.table, vPrev, vNew))
        tr.span("cube.maintain") {
          val signed = facts(delta, when(col("change") === "insert", 1).otherwise(-1))
          val lattice = Cube.maintainLattice(BaseDims,
            VersionedTable.read(spark, r.cuboid(BaseDims)), signed, Measures, Cuboids)
          commitLattice(spark, r, lattice, i)
        }
        tr.span("bm25.upsert")(TextOps.invertedIndexUpsert(spark, r.bm25, docs,
          shards = Shards))
        tr.span("ivf.upsert")(Similarity.ivfUpsert(spark, r.ivf, embs))
        vNew
      }
      refreshed.foreach { vNew =>
        versions += vNew
        inputBytes += bytes
        val touched = spark.read.parquet(s"$dir/touched.parquet").collect().map(_.getLong(0))
        step("read") {
          val rows = tr.span("vtab.read")(VersionedTable.read(spark, r.table, Some(vNew))
            .filter(key.isin(touched.toSeq: _*)).collect())
          tr.span("vtab.changes")(VersionedTable.changesBetween(spark, r.table, vPrev, vNew)
            .groupBy("change").count().collect())
          reads += ((i, Main.canonRows(rows.toSeq).sorted))
        }
      }
      if (i % every == 0) step("compact") {
        tr.span("vtab.compact")(VersionedTable.compact(spark, r.table, nFiles = 1))
        tr.span("bm25.compact")(TextOps.invertedIndexCompact(spark, r.bm25))
        tr.span("ivf.compact")(Similarity.ivfCompact(spark, r.ivf))
      }
    }

    // ---- set-up
    ctx.phase("build")(build(ctx, in, r))
    versions += VersionedTable.versions(spark, r.table).last

    // ---- measured phase
    val written0 = bytesWritten
    val manifests0 = manifests(ctx.work)
    ctx.startMeasuring()
    var b = 0
    var last = 0.0
    while (b < batches.size && ctx.another(last, b)) {
      val cycle0 = ctx.elapsedS
      b += 1
      cycle(b)
      last = ctx.elapsedS - cycle0
    }
    ctx.stopMeasuring()
    val stats0 = System.nanoTime()
    val written = bytesWritten - written0
    ctx.extra("batches_applied") = b
    ctx.extra("input_bytes") = inputBytes
    ctx.extra("bytes_written") = written
    ctx.extra("vtab_commits") = manifests(ctx.work) - manifests0
    ctx.extra("on_disk_bytes") = r.all.map(p => Main.treeStats(p)._2).sum
    ctx.extra("table_files_live") = VersionedTable.read(spark, r.table).inputFiles.length
    val (tableFiles, tableBytes) = Main.treeStats(s"${r.table}/data")
    ctx.extra("table_files") = tableFiles
    ctx.extra("table_bytes") = tableBytes
    ctx.extra("table_versions") = VersionedTable.versions(spark, r.table).size
    ctx.phases += "stats" -> (System.nanoTime() - stats0) / 1e9

    // ---- output checks, against a plain-DataFrame replay of the
    // batches the measured phase applied; independent checks run
    // concurrently
    var li = spark.read.parquet(s"$in/lineitem0.parquet")
    var liveDocs = spark.read.parquet(s"$in/docs0.parquet").select("doc_id", "text")
    var liveEmb = spark.read.parquet(s"$in/emb0.parquet")
    def applyFeed(live: DataFrame, feed: DataFrame, id: String): DataFrame =
      live.join(feed.select(id), Seq(id), "left_anti").select(live.columns.map(col): _*)
        .unionByName(feed.filter(col("change") === "insert").select(live.columns.map(col): _*))
        .localCheckpoint()
    val readsByBatch = reads.toMap
    ctx.phase("replay")((1 to b).foreach { i =>
      val dir = batches(i - 1)._1
      val up = spark.read.parquet(s"$dir/upsert.parquet")
      li = li.join(up.select(Keys.map(col): _*), Keys, "left_anti").unionByName(up)
        .withColumn("__k", key)
        .join(spark.read.parquet(s"$dir/delete.parquet").withColumnRenamed("key", "__k"),
          Seq("__k"), "left_anti")
        .select(up.columns.map(col): _*).localCheckpoint()
      liveDocs = applyFeed(liveDocs, spark.read.parquet(s"$dir/docs.parquet"), "doc_id")
      liveEmb = applyFeed(liveEmb, spark.read.parquet(s"$dir/emb.parquet"), "vec_id")
      readsByBatch.get(i).foreach { rows =>
        val touched = spark.read.parquet(s"$dir/touched.parquet").collect().map(_.getLong(0))
        ctx.check(s"read-your-write b$i",
          rows == sortedRows(li.filter(key.isin(touched.toSeq: _*))), op = s"read:b$i")
      }
    })
    val live = VersionedTable.read(spark, r.table)
    val rebuild = s"${ctx.work}/rebuild"
    // base of space_amp: the live state written once, compactly
    val compact = s"${ctx.work}/compact_ref"
    ctx.phase("checks")(ctx.parallel(
      () => ctx.phase("check table")(ctx.check("table equals replay", sameRows(live, li))),
      () => ctx.phase("check changes") {
        val (vFirst, vLast) = (versions.head, versions.last)
        val cdc = VersionedTable.changesBetween(spark, r.table, vFirst, vLast)
        val before = VersionedTable.read(spark, r.table, Some(vFirst))
        val after = VersionedTable.read(spark, r.table, Some(vLast))
        // the feed and the diff are a batch's size: compared collected
        ctx.check("changesBetween equals snapshot diff",
          sortedRows(cdc.filter(col("change") === "insert").drop("change")) ==
            sortedRows(after.exceptAll(before)) &&
            sortedRows(cdc.filter(col("change") === "delete").drop("change")) ==
              sortedRows(before.exceptAll(after)))
      },
      () => ctx.phase("check cuboids") {
        val replayFacts = facts(li, lit(1))
        (Cuboids :+ BaseDims).foreach { d =>
          val maintained = VersionedTable.read(spark, r.cuboid(d)).filter(col("n") =!= 0)
            .select((d :+ "n" :+ "qty").map(col): _*)
          val rebuilt = replayFacts.groupBy(d.map(col): _*)
            .agg(sum("sgn").as("n"), sum("sq").as("qty"))
          ctx.check(s"cuboid ${d.mkString("+")} equals rebuild",
            sortedRows(maintained) == sortedRows(rebuilt))
        }
      },
      () => ctx.phase("check bm25") {
        val maintained = Future(sortedRows(
          TextOps.bm25TopKIndexed(spark, r.bm25, ProbeTerms, 10, shards = Shards)))
        TextOps.buildInvertedIndex(liveDocs, s"$rebuild/bm25", shards = Shards)
        val rebuilt = sortedRows(TextOps.bm25TopKIndexed(spark, s"$rebuild/bm25", ProbeTerms, 10,
          shards = Shards))
        ctx.check("bm25 probe equals rebuild", Await.result(maintained, Duration.Inf) == rebuilt)
      },
      () => ctx.phase("check ivf") {
        Similarity.ivfBuildIndex(liveEmb, s"$rebuild/ivf", planes = Planes)
        val probe = liveEmb.orderBy("vec_id").head().getSeq[Float](1).map(_.toDouble)
        val nprobe = 1 << Planes
        ctx.check("ivf probe equals rebuild",
          sortedRows(Similarity.ivfProbe(spark, r.ivf, probe, 10, nprobe)) ==
            sortedRows(Similarity.ivfProbe(spark, s"$rebuild/ivf", probe, 10, nprobe)))
      },
      () => ctx.phase("check compact-ref") {
        Seq("table" -> live, "docs" -> liveDocs, "emb" -> liveEmb).foreach { case (n, df) =>
          df.coalesce(1).write.parquet(s"$compact/$n")
        }
        (Cuboids :+ BaseDims).foreach(d => VersionedTable.read(spark, r.cuboid(d))
          .coalesce(1).write.parquet(s"$compact/${d.mkString("_")}"))
      }))
    ctx.extra("compact_bytes") = Main.treeStats(compact)._2
  }
}
