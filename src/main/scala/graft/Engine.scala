package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Session factory + catalog bootstrap for the engine.
  *
  * Mirrors the reference's execution defaults (SURVEY.md §1.2/§4):
  *  - Hive-style lax coercions (`spark.sql.ansi.enabled=false`) — the
  *    reference sums string-typed measures (reference docs/HiveSQL.md:14).
  *  - AQE on: runtime coalesce, skew-join handling replace the manual
  *    skew recipes of reference docs/sql调优.md:173-250.
  *  - UTC session timezone for oracle parity.
  *  - shuffle partitions sized for the local[32] harness, NOT the 200
  *    default the reference itself calls "too small" for big jobs and
  *    which is far too big for local mode (reference docs/sql调优.md:161).
  */
object Engine {

  /** All driver-generated testdata tables (TESTDATA.md). */
  val tableNames: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Entries of Spark's generated-class cache (the static conf
    * `spark.sql.codegen.cache.maxEntries`, default 100). A dashboard
    * daemon compiles the same statement shapes over and over, and at
    * 100 entries they do not fit: perfbench's `serve_mixed` (twelve
    * JDBC statements, two clients, 4-core box) compiles 166–172
    * distinct generated sources per serve run (mean 6.5 KB, p95 24 KB,
    * max 74 KB), so the cache thrashed and a 10 s measured phase
    * recompiled 481–612 times (ten runs) — about three Janino compiles
    * per statement, each fresh class then JIT-compiled again. At 1000
    * entries the same phase compiled 3–5 times and the median
    * statement fell from 87 to 67 ms (ten paired seeds, all lower).
    * 1000 keeps that working set with headroom, about 6.5 MB of source
    * text at the mean. Compile cost is paid per statement shape, not
    * per byte scanned, so this holds at any data size. */
  val CodegenCacheEntries = 1000

  /** The one session builder: local `master`, the engine's extensions
    * and the confs that must be set before the session exists. The
    * generated-class cache is JVM-global and sized by the first
    * session that generates code, so its size is set here and not in
    * [[configure]] (a static conf cannot change at runtime). */
  private[graft] def builder(master: String, shufflePartitions: Int)
      : SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.codegen.cache.maxEntries",
        CodegenCacheEntries.toString)
      // static conf, consumed only by the Thrift JDBC endpoint
      // (graft.Serve): every JDBC connection shares THIS session's
      // state, so registered temp views and the routing rule are
      // visible to BI clients; harmless otherwise
      .config("spark.sql.hive.thriftServer.singleSession", "true")
      .config("spark.ui.enabled", "false")

  def session(
      master: String = s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]",
      shufflePartitions: Int = 32): SparkSession = {
    val spark = builder(master, shufflePartitions).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Apply engine-required confs to an externally created session (the
    * driver's Verify/Bench sessions) without rebuilding it. */
  def configure(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.ansi.enabled", "false")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    // events.parquet carries TIMESTAMP(NANOS) which the vectorized reader
    // rejects; read as Long and convert in `table` below.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // ObjectHashAggregate (every bitmap/HLL/vector typed aggregate)
    // falls back to SORT-BASED aggregation once a partition's hash map
    // exceeds this many groups — the fallback is its only spill
    // mechanism. The default of 128 meant any typed rollup past toy
    // cardinality silently SORTED its whole input partition (measured:
    // q_agg_route_incremental's ~15k-group bitmap build, 2.36s → 1.74s
    // isolated at sf0.1 with the raise). Raising it trades that spill
    // safety for hash speed, which is the right trade for this engine:
    // typed aggregates here group at DIMENSION grain (≤ ~100k groups),
    // never id grain, and the buffers are compact (chunked-sparse
    // bitmaps, dim-64 sum vectors, HLL registers) — 1M groups × KB
    // buffers stays well inside one executor's aggregation budget.
    spark.conf.set(
      "spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
      "1000000")
    // Bucket/shard-partitioned index tables (IVF vectors, BM25
    // postings) have at most a few hundred partition dirs (bounded by
    // 2^planes / the shard count), but Spark's default threshold of 32
    // schedules a WHOLE distributed listing job for every read of one
    // (Profile -jobs: four 64-task listing jobs per IVF upsert lifecycle —
    // pure scheduling overhead). Driver-side serial listing is cheaper
    // up to hundreds of dirs on any filesystem; genuinely huge
    // partitioned tables (thousands of dirs on object stores) still
    // take the parallel path. A/B (one JVM, alternating): ivf_upsert
    // 4.74s -> 4.24s, ivf_batch 0.81s -> 0.76s.
    spark.conf.set(
      "spark.sql.sources.parallelPartitionDiscovery.threshold", "512")
    // rollup/cube after a join trips the ambiguous-self-join guard (the
    // Expand node duplicates grouping attributes); our self-joins all
    // rename columns first, so the guard only produces false positives.
    // (failAmbiguousSelfJoin left at default: rollup queries alias their
    // grouping columns, so the guard no longer false-positives)
    spark
  }

  // Per-session caches for testdata resolution. The testdata dirs are
  // STATIC and read-only (TESTDATA.md), so a DataFrame's file listing/
  // schema snapshot never goes stale — which makes re-running parquet
  // schema inference per query call pure waste: a registerAll pass
  // over the 10 tables costs ~1.1s at sf0.1, and the bench/verify
  // harnesses invoke queries hundreds of times. This is also what a
  // real warehouse session does: tables resolve through a metastore
  // that caches schemas, not by re-reading footers per query.
  // WeakHashMap so a stopped session's entries can be collected.
  private val registeredDir =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, String]())
  private val tableCache =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession,
        scala.collection.concurrent.TrieMap[String, DataFrame]]())

  /** Run `f` with a Spark job description (guide §1.5): labels every
    * job `f` schedules so the UI / Profile -jobs attribute lifecycle
    * operators' many small jobs to their protocol step. Thread-local,
    * restored after; driver-side only — zero cost in the jobs. */
  def label[T](spark: SparkSession, desc: String)(f: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(desc)
    try f finally sc.setJobDescription(prev)
  }

  /** `base`, `_base`, `__base`, …: the first prefix no name in `taken`
    * starts with (case-insensitively) — a working column never
    * replaces a user column. */
  private[graft] def freshPrefix(base: String, taken: Seq[String]): String =
    Iterator.iterate(base)("_" + _).find(p =>
      !taken.exists(_.toLowerCase.startsWith(p.toLowerCase))).get

  /** The one gate of every driver-local twin: an operator whose input
    * is usually small keeps a driver-side loop that computes the same
    * result as its distributed plan, and takes it when `df` fits.
    *
    * Bounded probe: one job collects at most bound+1 rows of `df`; when
    * at most `bound` come back they ARE the local path's working set
    * (one job whichever path is taken), otherwise `None` and the caller
    * runs its distributed plan. The distributed plans of these
    * operators are pure fixed job overhead at bounded sizes (~10
    * exchange-stage jobs for a graph of 45k edges), while each twin is
    * differential-pinned equal to its distributed path (GraphSpec,
    * DedupSpec, BpeSpec, SimilaritySpec, ConfigInvarianceSpec's
    * twins-off sweep).
    *
    * The bound is `min(cap, spark.graft.localTwin.maxRows)` (default
    * 1,000,000 rows; 0 forces every twin distributed), clamped below
    * Int.MaxValue so the probe's `limit` cannot overflow. `None`
    * without a job when the bound is ≤ 0 or when any top-level column
    * of `df` is binary, float or double: driver-side equality differs
    * from Spark's on those (byte arrays compare by reference; Spark
    * normalizes -0.0 and NaN, boxed doubles do not), so no twin keyed
    * on them would agree with its distributed path. */
  def boundedLocal(df: DataFrame, op: String,
      cap: Long = Long.MaxValue): Option[Array[Row]] = {
    import org.apache.spark.sql.types.{BinaryType, DoubleType, FloatType}
    val spark = df.sparkSession
    val bound = math.min(Int.MaxValue - 1L, math.min(cap,
      spark.conf.get("spark.graft.localTwin.maxRows", "1000000").toLong))
    val sparkEqualKeys = df.schema.forall(_.dataType match {
      case BinaryType | FloatType | DoubleType => false
      case _ => true
    })
    if (bound <= 0 || !sparkEqualKeys) None
    else label(spark, s"local-twin probe: $op") {
      val rows = df.limit(bound.toInt + 1).collect()
      if (rows.length <= bound) Some(rows) else None
    }
  }

  /** Finish a lifecycle query that staged state under a per-run temp
    * dir: collect the (small) result, DELETE the dir, and return the
    * rows as a local frame with the original schema. Lifecycle
    * queries (versioned-table DML, index maintenance) MUST route
    * through this — returning a lazy frame that still reads the dir
    * forces the caller to leak it, and 12 rounds of bench/verify runs
    * had accumulated 80+ dead table roots each for four such queries
    * (hundreds of small files apiece: real filesystem weather). */
  def collectAndClean(df: DataFrame, tmpDir: String): DataFrame = {
    val rows = df.collect()
    operators.Segments.rmrf(new java.io.File(tmpDir))
    df.sparkSession.createDataFrame(
      // one slice: these are bounded collected row sets (tens to a few
      // thousand rows), and the default 32-slice parallelize makes
      // every downstream stage of every consumer pay 32 task launches
      // to move a handful of rows (Profile -jobs: 32-task 1.5s-tasktime
      // force jobs on 11-row lifecycle results)
      df.sparkSession.sparkContext.parallelize(rows.toSeq, 1), df.schema)
  }

  /** Render a wall-clock instant as a SQL timestamp literal in the
    * SESSION timezone. `Timestamp.toString` renders in the JVM
    * default zone, but `TIMESTAMP AS OF '<literal>'` (and any SQL
    * timestamp cast) parses in `spark.sql.session.timeZone` — on a
    * non-UTC host the naive round-trip resolves hours off (wrong
    * version, or 'no version committed at or before'). */
  def tsLiteral(spark: SparkSession, ts: java.sql.Timestamp): String =
    java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")
      .withZone(java.time.ZoneId.of(
        spark.sessionState.conf.sessionLocalTimeZone))
      .format(ts.toInstant)

  /** Read one testdata table, normalizing types the raw files can't
    * express in Spark (ns-precision timestamps → microsecond TIMESTAMP,
    * truncating like DuckDB's TIMESTAMP_NS→TIMESTAMP cast does).
    * Cached per (session, dir, table) — see the cache note above. */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    configure(spark)
    val per = tableCache.synchronized {
      var m = tableCache.get(spark)
      if (m == null) {
        m = scala.collection.concurrent.TrieMap.empty[String, DataFrame]
        tableCache.put(spark, m)
      }
      m
    }
    per.getOrElseUpdate(s"$sfDir/$name", {
      val path = s"$sfDir/$name.parquet"
      // the schema comes from one footer read on the driver, so
      // resolving a table schedules no schema-inference job
      val footer = footerSchema(spark, path)
      val df = footer.fold(spark.read.parquet(path))(f =>
        spark.read.schema(f._1).parquet(path))
      // Older testdata generations wrote events.ts as TIMESTAMP(NANOS),
      // which (with nanosAsLong=true) surfaces as a Long of epoch-nanos;
      // newer generations write timestamp[us], which resolves directly
      // as TIMESTAMP. A Long surface alone doesn't prove nanos — a
      // generation writing PLAIN INT64 micros would surface as Long too
      // and `div 1000` would silently shift every timestamp 1000x — so
      // the parquet footer's logical type decides: TIMESTAMP(NANOS)
      // converts, anything else Long-surfaced fails fast with a named
      // drift error instead of guessing.
      if (name == "events" &&
          df.schema("ts").dataType == org.apache.spark.sql.types.LongType) {
        if (!footer.exists(f => tsIsNanos(f._2)))
          throw new IllegalStateException(
            s"testdata drift: $path ts surfaces as LONG " +
              "but its parquet logical type is not TIMESTAMP(NANOS) — " +
              "cannot infer the epoch unit; regenerate testdata or " +
              "update Engine.table")
        df.withColumn("ts",
          org.apache.spark.sql.functions.timestamp_micros(
            org.apache.spark.sql.functions.expr("ts div 1000")))
      } else df
    })
  }

  /** The schema `spark.read.parquet(path)` infers without schema
    * merging, read on the driver from ONE footer (a bare file's own,
    * else the dir's first data file by name), with that footer's
    * parquet schema. Spark's row-metadata key wins when the writer
    * stored one; otherwise the session's parquet converter maps the
    * parquet schema (honouring `nanosAsLong` and friends). None for a
    * dir with subdirs (partition columns live in the paths, not the
    * footer) or without a data file; callers then let Spark infer. */
  private[graft] def footerSchema(spark: SparkSession, path: String)
      : Option[(org.apache.spark.sql.types.StructType,
        org.apache.parquet.schema.MessageType)] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val st = fs.getFileStatus(p)
    // names starting with '_' or '.' are hidden, as in Spark's file index
    val files =
      if (!st.isDirectory) Array(st)
      else fs.listStatus(p).filterNot(_.getPath.getName.matches("[._].*"))
    if (files.exists(_.isDirectory)) return None
    files.sortBy(_.getPath.getName).headOption.map(fileSchema(spark, _))
  }

  /** One parquet file's schema from its footer, read on the driver:
    * Spark's row-metadata key when the writer stored one, else the
    * session's parquet converter over the parquet schema. */
  private[graft] def fileSchema(spark: SparkSession,
      f: org.apache.hadoop.fs.FileStatus)
      : (org.apache.spark.sql.types.StructType,
        org.apache.parquet.schema.MessageType) = {
    import org.apache.spark.sql.types.{DataType, StructType}
    withFooter(f, spark.sessionState.newHadoopConf()) { reader =>
      val meta = reader.getFooter.getFileMetaData
      val fromSpark = Option(meta.getKeyValueMetaData
          .get("org.apache.spark.sql.parquet.row.metadata"))
        .flatMap(j => scala.util.Try(DataType.fromJson(j)).toOption)
        .collect { case t: StructType => t }
      val schema = fromSpark.getOrElse(
        new org.apache.spark.sql.execution.datasources.parquet
          .ParquetToSparkSchemaConverter(spark.sessionState.conf)
          .convert(meta.getSchema))
      (org.apache.spark.sql.graft.Bridge.asNullable(schema),
        meta.getSchema)
    }
  }

  /** `read` over one parquet file's footer, on the driver. */
  private def withFooter[T](f: org.apache.hadoop.fs.FileStatus,
      conf: org.apache.hadoop.conf.Configuration)(
      read: org.apache.parquet.hadoop.ParquetFileReader => T): T = {
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(f, conf))
    try read(reader) finally reader.close()
  }

  /** Feeds the rows of a parquet relation without partition columns,
    * read on the driver with Spark's parquet reader from the files its
    * index lists (no Spark job), to `sink` as UnsafeRows in the
    * relation's column order, each valid only during its call. Stops
    * and returns false before the rows' total size would pass
    * `maxBytes`: no more than that is ever fed. */
  private[graft] def parquetRows(spark: SparkSession,
      relation: org.apache.spark.sql.execution.datasources.HadoopFsRelation,
      maxBytes: Long)(
      sink: org.apache.spark.sql.catalyst.expressions.UnsafeRow => Unit): Boolean = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
    require(relation.partitionSchema.isEmpty,
      "parquetRows reads relations without partition columns")
    val schema = relation.dataSchema
    val read = new org.apache.spark.sql.execution.datasources.parquet
      .ParquetFileFormat().buildReaderWithPartitionValues(spark, schema,
        relation.partitionSchema, schema, Nil,
        relation.options + (FileFormat.OPTION_RETURNING_BATCH -> "false"),
        spark.sessionState.newHadoopConfWithOptions(relation.options))
    val toUnsafe = org.apache.spark.sql.catalyst.expressions
      .UnsafeProjection.create(schema)
    var bytes = 0L
    val files = relation.location.listFiles(Nil, Nil).flatMap(_.files)
      .map(_.fileStatus).sortBy(_.getPath.toString).iterator
    var within = true
    while (within && files.hasNext) {
      val f = files.next()
      val in = read(PartitionedFile(InternalRow.empty,
        org.apache.spark.paths.SparkPath.fromPath(f.getPath), 0, f.getLen,
        Array.empty, f.getModificationTime, f.getLen))
      try while (within && in.hasNext) {
        val r = toUnsafe(in.next())
        bytes += r.getSizeInBytes
        within = bytes <= maxBytes
        if (within) sink(r)
      } finally in match {
        case c: java.io.Closeable => c.close()
        case _ => ()
      }
    }
    within
  }

  /** True when `df` is only Projects and Filters over one parquet file
    * relation whose footers, read on the driver until their running
    * total reaches `cap`, count fewer than `cap` rows: then `df` has
    * fewer than `cap` rows, known without a Spark job. */
  private[graft] def footerRowsBelow(df: DataFrame, cap: Long): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project}
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation, PartitioningAwareFileIndex}
    import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
    def files(p: LogicalPlan): Seq[org.apache.hadoop.fs.FileStatus] = p match {
      case Project(_, child) => files(child)
      case Filter(_, child) => files(child)
      case LogicalRelation(HadoopFsRelation(idx: PartitioningAwareFileIndex,
          _, _, _, _: ParquetFileFormat, _), _, _, _, _) => idx.allFiles()
      case _ => Nil
    }
    val conf = df.sparkSession.sessionState.newHadoopConf()
    val fs = files(df.queryExecution.analyzed)
    fs.nonEmpty && fs.iterator.scanLeft(0L)((n, f) =>
      n + withFooter(f, conf)(_.getRecordCount)).forall(_ < cap)
  }

  /** True iff the parquet schema's `ts` column carries an explicit
    * TIMESTAMP(NANOS) logical annotation — the only Long-surfaced
    * encoding whose epoch unit is KNOWN (parquet-format logical
    * types). */
  private def tsIsNanos(schema: org.apache.parquet.schema.MessageType)
      : Boolean = {
    import org.apache.parquet.schema.LogicalTypeAnnotation
    schema.containsField("ts") &&
      (schema.getType(schema.getFieldIndex("ts"))
          .getLogicalTypeAnnotation match {
        case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
          t.getUnit == LogicalTypeAnnotation.TimeUnit.NANOS
        case _ => false
      })
  }

  /** Type CLASS a column resolves to after [[table]] normalization —
    * the granularity the queries actually depend on. Width within a
    * class (int vs bigint, float vs double, LTZ vs NTZ timestamp) is
    * handled by Spark's coercions and shifts the DuckDB oracle
    * identically, so it is NOT drift worth failing a round over. */
  private def typeClass(dt: org.apache.spark.sql.types.DataType): String = {
    import org.apache.spark.sql.types._
    dt match {
      case ByteType | ShortType | IntegerType | LongType => "integral"
      case FloatType | DoubleType | _: DecimalType => "numeric"
      case StringType => "string"
      case TimestampType | TimestampNTZType | DateType => "timestamp"
      case ArrayType(el, _) => s"array<${typeClass(el)}>"
      case other => other.simpleString
    }
  }

  /** The columns (and type classes) the query suite depends on, per
    * testdata table — the contract the driver's generator must keep. */
  private[graft] val expectedSchemas: Map[String, Seq[(String, String)]] =
    Map(
      "region" -> Seq("r_regionkey" -> "integral", "r_name" -> "string"),
      "nation" -> Seq("n_nationkey" -> "integral", "n_name" -> "string",
        "n_regionkey" -> "integral"),
      "customer" -> Seq("c_custkey" -> "integral", "c_name" -> "string",
        "c_nationkey" -> "integral", "c_acctbal" -> "numeric",
        "c_mktsegment" -> "string"),
      "supplier" -> Seq("s_suppkey" -> "integral", "s_name" -> "string",
        "s_nationkey" -> "integral", "s_acctbal" -> "numeric"),
      "part" -> Seq("p_partkey" -> "integral", "p_name" -> "string",
        "p_brand" -> "string", "p_type" -> "string",
        "p_size" -> "integral", "p_retailprice" -> "numeric"),
      "orders" -> Seq("o_orderkey" -> "integral",
        "o_custkey" -> "integral", "o_orderstatus" -> "string",
        "o_totalprice" -> "numeric", "o_orderdate" -> "timestamp",
        "o_orderpriority" -> "string"),
      "lineitem" -> Seq("l_orderkey" -> "integral",
        "l_partkey" -> "integral", "l_suppkey" -> "integral",
        "l_linenumber" -> "integral", "l_quantity" -> "numeric",
        "l_extendedprice" -> "numeric", "l_discount" -> "numeric",
        "l_tax" -> "numeric", "l_returnflag" -> "string",
        "l_linestatus" -> "string", "l_shipdate" -> "timestamp"),
      "events" -> Seq("event_id" -> "integral", "ts" -> "timestamp",
        "user_id" -> "integral", "event_type" -> "string",
        "value" -> "numeric", "props" -> "string"),
      "documents" -> Seq("doc_id" -> "integral", "text" -> "string",
        "lang" -> "string", "source" -> "string",
        "n_chars" -> "integral"),
      "embeddings" -> Seq("vec_id" -> "integral",
        "embedding" -> "array<numeric>", "label" -> "integral"))

  /** Fail FAST with a named per-column diff when a driver testdata
    * regeneration changes a type the queries depend on — instead of
    * the round-9 failure mode, where one changed column produced 71
    * identical analysis errors deep inside unrelated queries. Checked
    * POST-[[table]] normalization, so both known `events.ts` encodings
    * (epoch-nanos Long and timestamp[us]) pass as `timestamp`. */
  def assertSchemas(spark: SparkSession, sfDir: String): Unit = {
    val diffs = tableNames.flatMap { t =>
      if (!new java.io.File(s"$sfDir/$t.parquet").exists)
        Seq(s"$t: table file missing under $sfDir")
      else {
        val actual = table(spark, sfDir, t).schema
        val got = actual.fields.map(f => f.name -> typeClass(f.dataType)).toMap
        expectedSchemas(t).flatMap { case (c, want) =>
          got.get(c) match {
            case None => Some(s"$t.$c: column missing (expected $want; " +
              s"actual columns: ${actual.fieldNames.mkString(", ")})")
            case Some(g) if g != want => Some(s"$t.$c: resolved as $g, " +
              s"queries expect $want")
            case _ => None
          }
        }
      }
    }
    require(diffs.isEmpty,
      "testdata schema drift detected — the driver regenerated testdata " +
        "with types the query suite does not expect:\n  " +
        diffs.mkString("\n  "))
  }

  /** Register every testdata table under `sfDir` as a temp view so both
    * the DataFrame DSL and `spark.sql` surfaces see the same catalog.
    * Idempotent, and a no-op when this session already registered this
    * dir (the views are session-scoped and nothing in the repo reuses
    * the testdata view names — re-registering per query call only
    * re-pays schema inference). */
  def registerAll(spark: SparkSession, sfDir: String): SparkSession = {
    configure(spark)
    if (registeredDir.get(spark) != sfDir) {
      tableNames.foreach { t =>
        val p = new java.io.File(s"$sfDir/$t.parquet")
        if (p.exists) table(spark, sfDir, t).createOrReplaceTempView(t)
      }
      registeredDir.put(spark, sfDir)
    }
    spark
  }
}
