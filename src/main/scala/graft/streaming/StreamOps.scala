package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** Structured-Streaming operators for the real-time warehouse
  * (SURVEY.md §2.9, reference docs/实时数仓.md).
  *
  * The reference's model is exactly Structured Streaming's: continuous
  * micro-batch jobs (T1), SQL+UDF transforms on stream tables (T2),
  * tumbling windows closed a few seconds late (T3), Kafka-partition
  * local order + watermarks for disorder (T4), and Kappa replay for
  * recompute (T8). Operators below are source-agnostic: they take any
  * streaming DataFrame (Kafka in production, MemoryStream/file in tests
  * — same IncrementalExecution either way).
  */
case class TagEvent(user_id: Long, event_type: String, ts: java.sql.Timestamp)
case class StreakState(streak: Int)
case class UserStreak(user_id: Long, streak: Int)
case class SessionState(startMs: Long, lastMs: Long, nEvents: Int)
case class UserSession(user_id: Long, session_start: java.sql.Timestamp,
    session_end: java.sql.Timestamp, n_events: Int)
case class FunnelState(t0Us: Long, depth: Int, lastUs: Long)
case class UserFunnel(user_id: Long, depth: Int, t0_us: Long)
case class FunnelEpisode(user_id: Long, depth: Int, t0_us: Long,
    complete: Boolean)

object StreamOps {

  /** T3: tumbling-window aggregation with allowed lateness. The
    * reference closes the 10:00 window at 10:00:05-10:00:10
    * (docs/实时数仓.md:69-71) — `lateness` is that grace period,
    * expressed as a watermark so state is bounded (T10). */
  def tumblingWindowAgg(events: DataFrame, tsCol: String,
      windowLen: String, lateness: String,
      keyCols: Seq[String], valueCol: String = "value"): DataFrame = {
    val keys = window(col(tsCol), windowLen) +: keyCols.map(col)
    events
      .withWatermark(tsCol, lateness)
      .groupBy(keys: _*)
      .agg(count(lit(1)).as("cnt"),
        sum(col(valueCol).cast("decimal(18,2)")).cast("double").as("total"))
  }

  /** S7: Kafka source (reference docs/实时数仓.md:86,95-97). The
    * `format("kafka")` line needs the spark-sql-kafka connector on the
    * classpath (present on a production cluster, absent in this
    * sandbox); everything downstream is connector-agnostic and tested
    * through [[decodeKafkaEnvelope]] + MemoryStream (identical
    * IncrementalExecution). */
  def kafkaSource(spark: SparkSession, bootstrap: String, topic: String,
      startingOffsets: String = "latest"): DataFrame =
    spark.readStream
      .format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("subscribe", topic)
      .option("startingOffsets", startingOffsets)
      .load()

  /** Decode the Kafka record envelope (key/value binary + topic,
    * partition, offset, timestamp) into typed event columns: value is
    * JSON, partition-local order is preserved by carrying
    * (partition, offset) through (docs/实时数仓.md:95-97 relies on
    * exactly that ordering guarantee). Works on any DataFrame with the
    * Kafka schema — streaming or batch replay. */
  def decodeKafkaEnvelope(records: DataFrame, valueSchema: StructType): DataFrame =
    records.select(
      col("key").cast("string").as("msg_key"),
      col("partition"), col("offset"),
      col("timestamp").as("kafka_ts"),
      from_json(col("value").cast("string"), valueSchema).as("v"))
      .select(col("msg_key"), col("partition"), col("offset"),
        col("kafka_ts"), col("v.*"))

  /** S8: JDBC side sink for [[startParquetSink]]'s fan-out — the
    * reference mirrors streams into MySQL/app DBs
    * (docs/画像开发方案.md:5). Plain `DataFrame => Unit`, one
    * transactional append per micro-batch. */
  def jdbcSideSink(url: String, table: String,
      props: java.util.Properties = new java.util.Properties)
      : DataFrame => Unit =
    batch => batch.write.mode("append").jdbc(url, table, props)

  /** S8: KV side sink for [[startParquetSink]]'s fan-out — the
    * reference's profile-tag serving path (tags into HBase/Redis for
    * point lookups, docs/画像开发方案.md:5). Key = `keyCol` as a UTF-8
    * string; value = the remaining columns as one JSON document (the
    * wide-row encoding a serving layer reads back in one get).
    * Distributed: rows are put from `foreachPartition` on the
    * executors via the per-JVM client registry ([[RocksKv]]) —
    * nothing funnels through the driver — and last-write-wins puts
    * make micro-batch replay idempotent. Null keys are skipped (a KV
    * store has nowhere to put them; the main parquet sink keeps the
    * full row). */
  def kvSideSink(dbPath: String, keyCol: String): DataFrame => Unit =
    batch => {
      val payload = batch.columns.filterNot(_ == keyCol)
      batch.select(col(keyCol).cast("string").as("__k"),
          to_json(struct(payload.map(col): _*)).as("__v"))
        .foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
          val kv = RocksKv.client(dbPath)
          it.foreach { r =>
            if (!r.isNullAt(0))
              kv.put(r.getString(0).getBytes("UTF-8"),
                r.getString(1).getBytes("UTF-8"))
          }
        }
    }

  /** J13: stream-dim lookup join — enrich streaming facts from a small
    * static dimension (the reference keeps dims in an HBase KV store,
    * docs/实时数仓.md:79; Spark's native equivalent is a stream-static
    * BROADCAST join, re-resolved per micro-batch so dim updates are
    * picked up without restarting the query). */
  def dimEnrich(stream: DataFrame, dim: DataFrame,
      streamKey: String, dimKey: String): DataFrame =
    stream.join(broadcast(dim), col(streamKey) === col(dimKey), "left")

  /** T5: late-data drift filter. The streaming compactor can land
    * midnight-straddling rows in the wrong dt partition; DWD re-reads a
    * widened partition range and re-filters on BUSINESS time
    * (docs/实时数仓.md:114-116). Works identically on batch re-reads. */
  def driftFilter(df: DataFrame, partitionCol: String, tsCol: String,
      targetDate: String): DataFrame = {
    val target = to_date(lit(targetDate))
    df.filter(col(partitionCol).cast("date")
        .between(date_sub(target, 1), date_add(target, 1)))
      .filter(col(tsCol).cast("date") === target)
  }

  /** T7: real-time per-key feature/tag computation — watermarked
    * running aggregates per user (流式标签, docs/画像简介.md:11). */
  def streamingUserTags(events: DataFrame, tsCol: String = "ts"): DataFrame =
    events
      .withWatermark(tsCol, "10 seconds")
      .groupBy(col("user_id"), window(col(tsCol), "1 hour"))
      .agg(count(lit(1)).as("events_1h"),
        count(when(col("event_type") === "purchase", 1)).as("buys_1h"),
        sum(when(col("event_type") === "purchase",
          col("value").cast("decimal(18,2)"))).cast("double").as("amt_1h"))

  /** T7 (custom state): per-user consecutive-purchase streak via
    * `mapGroupsWithState` — the rule-window tag case the reference's
    * 流式标签 need when a plain windowed agg can't express the rule
    * (docs/画像简介.md:11, SURVEY §2.9 T7). State is one int per user;
    * events within a batch are applied in event-time order (cross-batch
    * order comes from the Kafka partition guarantee, T4). */
  def purchaseStreaks(events: org.apache.spark.sql.Dataset[TagEvent])
      : org.apache.spark.sql.Dataset[UserStreak] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .mapGroupsWithState[StreakState, UserStreak](
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout) {
        (uid, evs, state) =>
          var s = state.getOption.map(_.streak).getOrElse(0)
          evs.toSeq.sortBy(_.ts.getTime).foreach { e =>
            if (e.event_type == "purchase") s += 1 else s = 0
          }
          state.update(StreakState(s))
          UserStreak(uid, s)
      }
  }

  /** T7 (custom state): real-time window-funnel progress per user —
    * the streaming twin of [[graft.operators.Behavior.windowFunnel]]
    * with IDENTICAL leftmost-greedy semantics (chain anchored at the
    * first step-1 event, strictly-after matching, window-inclusive
    * boundary), so the real-time tag converges to exactly the batch
    * answer (T9 differential validation applies). State is three longs
    * per user — bounded regardless of event volume. Within a batch,
    * events apply in event-time order; cross-batch order comes from the
    * Kafka partition guarantee (T4), same contract as
    * [[purchaseStreaks]]. Emits the user's funnel depth after each
    * batch touching them (update mode). */
  def streamingFunnel(events: org.apache.spark.sql.Dataset[TagEvent],
      steps: Seq[String], windowSec: Long)
      : org.apache.spark.sql.Dataset[UserFunnel] = {
    import events.sparkSession.implicits._
    val win = windowSec * 1000000L
    val idx = steps.zipWithIndex.toMap
    val k = steps.length
    events.groupByKey(_.user_id)
      .mapGroupsWithState[FunnelState, UserFunnel](
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout) {
        (uid, evs, state) =>
          var s = state.getOption.getOrElse(FunnelState(0L, 0, 0L))
          evs.toSeq
            .flatMap(e => idx.get(e.event_type).map(si =>
              (e.ts.getTime * 1000L + (e.ts.getNanos / 1000L) % 1000L, si)))
            .sorted
            .foreach { case (t, si) =>
              if (s.depth == 0) {
                if (si == 0) s = FunnelState(t, 1, t)
              } else if (s.depth < k && si == s.depth && t > s.lastUs &&
                  t <= s.t0Us + win)
                s = FunnelState(s.t0Us, s.depth + 1, t)
            }
          state.update(s)
          UserFunnel(uid, s.depth, s.t0Us)
      }
  }

  /** T7+T10: funnel EPISODES with state bounded by the watermark —
    * the production form of [[streamingFunnel]]. That operator keeps
    * three longs per user forever; at 100 TB/day of events the user
    * set itself is unbounded, so state must expire. Here each user's
    * chain lives only while its window can still advance: a chain
    * that completes (depth = k) emits immediately; a chain whose
    * window expires emits when the event-time timeout fires (or
    * in-line, when a later event proves the window passed) and its
    * state is REMOVED. After an emission the next step-1 event opens
    * a fresh episode — repeated conversion cycles, which the
    * single-anchor batch operator cannot express; the FIRST episode
    * per user matches [[graft.operators.Behavior.windowFunnel]]
    * exactly. Episode splitting is per-event + timeout, so results do
    * not depend on micro-batch boundaries. */
  def streamingFunnelEpisodes(events: org.apache.spark.sql.Dataset[TagEvent],
      steps: Seq[String], windowSec: Long, lateness: String = "10 seconds")
      : org.apache.spark.sql.Dataset[FunnelEpisode] = {
    import events.sparkSession.implicits._
    val win = windowSec * 1000000L
    val idx = steps.zipWithIndex.toMap
    val k = steps.length
    events.withWatermark("ts", lateness)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, FunnelEpisode](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        org.apache.spark.sql.streaming.GroupStateTimeout.EventTimeTimeout) {
        (uid, evs, state) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(FunnelEpisode(uid, s.depth, s.t0Us,
              complete = s.depth == k))
          } else {
            var s = state.getOption.getOrElse(FunnelState(0L, 0, 0L))
            val out = scala.collection.mutable.ListBuffer.empty[FunnelEpisode]
            evs.toSeq
              .flatMap(e => idx.get(e.event_type).map(si =>
                (e.ts.getTime * 1000L + (e.ts.getNanos / 1000L) % 1000L,
                  si)))
              .sorted
              .foreach { case (t, si) =>
                // an event past the open window closes the episode here
                // (no need to wait for the timeout)
                if (s.depth > 0 && t > s.t0Us + win) {
                  out += FunnelEpisode(uid, s.depth, s.t0Us,
                    complete = false)
                  s = FunnelState(0L, 0, 0L)
                }
                if (s.depth == 0) {
                  if (si == 0) s = FunnelState(t, 1, t)
                } else if (si == s.depth && t > s.lastUs &&
                    t <= s.t0Us + win) {
                  s = FunnelState(s.t0Us, s.depth + 1, t)
                  if (s.depth == k) { // complete: emit, free the slot
                    out += FunnelEpisode(uid, k, s.t0Us, complete = true)
                    s = FunnelState(0L, 0, 0L)
                  }
                }
              }
            if (s.depth > 0) {
              state.update(s)
              // fire once the watermark passes the window end (plus
              // nothing extra: lateness is already in the watermark)
              state.setTimeoutTimestamp(math.max(
                (s.t0Us + win) / 1000L + 1L,
                state.getCurrentWatermarkMs() + 1L))
            } else if (state.exists) state.remove()
            out.iterator
          }
      }
  }

  /** Streaming deduplication: drop repeated delivery of the same event
    * (at-least-once sources like Kafka redeliver on rebalance/retry)
    * keyed by `idCols`, with state bounded by the watermark — an id is
    * remembered only until the watermark passes its event time, which
    * is what makes exactly-once ingestion viable at 100 TB/day (an
    * unbounded seen-set would OOM). Duplicates arriving within the
    * lateness window dedupe; anything later was already dropped as
    * late data. */
  def streamDedup(events: DataFrame, tsCol: String,
      lateness: String, idCols: Seq[String]): DataFrame =
    events
      .withWatermark(tsCol, lateness)
      .dropDuplicatesWithinWatermark(idCols)

  /** Streaming ingestion dedup against a STATIC corpus: the streaming
    * counterpart of [[graft.operators.Dedup.dedupAgainstCorpus]] —
    * redeliveries and in-stream twins collapse via watermark-bounded
    * fingerprint state, and documents already in the corpus are cut by
    * a stream-static LEFT ANTI join on the 16-byte fingerprint
    * (re-resolved per micro-batch, so a corpus refresh is picked up
    * without restarting the query). The static side carries only
    * fingerprints — at 100 TB the corpus fingerprint table is ~1/6000th
    * of the corpus and joins by key, the stream never buffers it. */
  def streamDedupAgainstCorpus(stream: DataFrame, corpusFps: DataFrame,
      tsCol: String, lateness: String,
      textCol: String = "text"): DataFrame =
    stream
      .withWatermark(tsCol, lateness)
      .withColumn("__fp", md5(col(textCol)))
      .dropDuplicatesWithinWatermark("__fp")
      .join(corpusFps.select(col("fp").as("__fp")), Seq("__fp"),
        "left_anti")
      .drop("__fp")

  /** Streaming PERCEPTUAL media dedup: in-window copies of the same
    * image/audio collapse on the strict perceptual fingerprint
    * (container-independent image dHash, gain-invariant WAV envelope
    * hash — [[graft.operators.MediaCodec]]), so re-encoded /
    * brightness-shifted / volume-scaled redeliveries dedupe even
    * though their BYTES differ; state is watermark-bounded exactly
    * like [[streamDedup]]. Rows that are not decodable media (null
    * fingerprint) PASS THROUGH un-deduped — null keys would otherwise
    * all collapse into one row under dropDuplicates' null-equality. */
  def streamMediaDedup(media: DataFrame, tsCol: String,
      lateness: String): DataFrame = {
    val fp = udf((p: Array[Byte]) =>
      graft.operators.MediaCodec.imageDHash64(p)
        .orElse(graft.operators.MediaCodec.wavEnvelopeHash64(p))
        .map(java.lang.Long.valueOf).orNull)
    val hashed = media.withColumn("__mh", fp(col("payload")))
      .withWatermark(tsCol, lateness)
    hashed.filter(col("__mh").isNotNull)
      .dropDuplicatesWithinWatermark("__mh")
      .unionByName(hashed.filter(col("__mh").isNull))
      .drop("__mh")
  }

  /** Streaming EMBEDDING dedup against a static corpus: each
    * micro-batch of arriving vectors is cut down to the rows with no
    * cosine-near-duplicate in `corpus`
    * ([[graft.operators.Dedup.embeddingDedupAgainstCorpus]]) and handed
    * to `sink`. foreachBatch rather than a stream-static join because
    * the candidates-then-verify plan (multi-probe LSH bucket join +
    * cosine verify + anti-join) is a multi-pass batch plan per
    * micro-batch — the same reason the reference lands streams in
    * micro-batched table loads before heavy joins. The corpus is
    * re-resolved per batch, so a corpus refresh is picked up without
    * restarting the query. */
  def streamEmbeddingDedupSink(stream: DataFrame, corpus: DataFrame,
      checkpoint: String, threshold: Double = 0.95,
      vecCol: String = "embedding", idCol: String = "vec_id")(
      sink: DataFrame => Unit): StreamingQuery =
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        sink(graft.operators.Dedup.embeddingDedupAgainstCorpus(
          corpus, batch, threshold = threshold, vecCol = vecCol,
          idCol = idCol))
        ()
      }
      .start()

  /** Streaming EXACT-SUBSTRING dedup — the incremental twin of
    * [[graft.operators.TextOps.dedupSubstrings]]: each micro-batch is
    * cleaned against every window fingerprint seen in EARLIER batches
    * ([[graft.operators.TextOps.dedupSubstringsAgainstCorpus]] — a
    * span whose first occurrence arrived an hour ago is cut from
    * every later arrival) plus batch-internal first-wins, then the
    * RAW batch's fingerprints land in the store for the batches after
    * it. foreachBatch, because the seed-coverage plan is a multi-pass
    * batch plan per micro-batch (the [[streamEmbeddingDedupSink]]
    * rationale).
    *
    * Crash idempotence (the [[graft.operators.TextOps
    * .invertedIndexUpsert]] protocol): fingerprints land in per-batch
    * `__batch=<id>` dirs written with OVERWRITE, and the store read
    * EXCLUDES the current batch id — a redelivered batch neither
    * collides with its own earlier attempt's fingerprints nor appends
    * duplicates. Store growth is one distinct-fingerprint set per
    * batch; once `compactEvery` batch dirs accumulate, the NEXT batch
    * compacts them into a single `__base` dir
    * ([[compactSubstringFpStore]]) so store reads stay O(1) dirs on a
    * long-running stream instead of degrading linearly in batch count.
    * Compaction only ever absorbs dirs of OTHER batch ids — every id
    * below the current one is checkpoint-committed, and the current
    * (sole redeliverable) batch's fingerprints stay in their own
    * overwrite-idempotent dir — so a redelivered batch still never
    * sees its own earlier attempt, even straddling a compaction.
    *
    * All store I/O resolves through the Hadoop FileSystem of `fpDir`
    * (the same way its parquet is written), so a non-local store path
    * lists/compacts correctly — a `java.io.File` listing would
    * silently read an empty store there and no-op the dedup. */
  def streamSubstringDedupSink(stream: DataFrame, fpDir: String,
      k: Int, checkpoint: String, textCol: String = "text",
      idCol: String = "doc_id", compactEvery: Int = 16)(
      sink: DataFrame => Unit): StreamingQuery = {
    require(compactEvery >= 2, s"compactEvery must be >= 2, got $compactEvery")
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        substringDedupBatch(batch, batchId, fpDir, k, textCol, idCol,
          compactEvery)(sink)
      }
      .start()
  }

  /** One micro-batch of [[streamSubstringDedupSink]] — package-visible
    * so the crash/redelivery laws can drive exact batch sequences the
    * MemoryStream harness can't (a redelivered id straddling a
    * compaction). */
  private[graft] def substringDedupBatch(batch: DataFrame, batchId: Long,
      fpDir: String, k: Int, textCol: String, idCol: String,
      compactEvery: Int)(sink: DataFrame => Unit): Unit = {
    val spark = batch.sparkSession
    val dir = new org.apache.hadoop.fs.Path(fpDir)
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    ensureFpStoreFormat(fs, dir)
    graft.operators.Segments.recover(s"$fpDir/__base")
    if (batchDirsOf(fs, dir, batchId).length >= compactEvery)
      compactSubstringFpStore(spark, fpDir, excludeBatchId = Some(batchId))
    val basePath = new org.apache.hadoop.fs.Path(dir, "__base")
    val prior = (if (fs.exists(basePath)) Seq(basePath.toString) else Nil) ++
      batchDirsOf(fs, dir, batchId).map(_.toString)
    val store =
      if (prior.isEmpty)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType.fromDDL("g BINARY"))
      else spark.read.parquet(prior: _*)
    val (cleaned, windows) = graft.operators.TextOps
      .dedupSubstringsAgainstCorpusTracked(store, batch, k,
        textCol, idCol)
    sink(cleaned)
    // the batch's fingerprints are already materialized in the
    // checkpointed window rows — write THEM, never recompute the
    // scan-dominant fingerprint pass over the raw batch
    windows.select(col("__g").as("g")).distinct()
      .write.mode("overwrite").parquet(s"$fpDir/__batch=$batchId")
    // the batch's checkpointed window rows are consumed; a
    // long-lived stream must not pin one fingerprint RDD per batch
    graft.operators.Checkpoints.release(windows)
    ()
  }

  /** The store's fingerprint scheme, stamped in a `_format` marker the
    * first time a store is written. Fingerprints only work as EQUALITY
    * classes, so every key in a store must come from one scheme: a
    * store written by a different fingerprint function would
    * left-semi-match NOTHING and the dedup would silently no-op.
    * Mixed or marker-less non-empty stores fail LOUDLY instead. */
  private val FpStoreFormat = "kgram-rk128-1"

  private def ensureFpStoreFormat(fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path): Unit = {
    val marker = new org.apache.hadoop.fs.Path(dir, "_format")
    def hasData = fs.exists(dir) && fs.listStatus(dir).exists { s =>
      s.getPath.getName.startsWith("__batch=") ||
        s.getPath.getName.startsWith("__base")
    }
    val got =
      if (!fs.exists(marker)) None
      else {
        val in = fs.open(marker)
        try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim)
        finally in.close()
      }
    got match {
      case Some(FpStoreFormat) => ()
      case Some("") if !hasData =>
        // a crash between creating the marker and writing its content
        // on a still-empty store: debris, restamp (the temp+rename
        // write below makes this window near-impossible going forward,
        // but a store wedged by an OLDER build must still recover)
        fs.delete(marker, false)
        stampFpFormat(fs, dir, marker)
      case Some(other) =>
        throw new IllegalArgumentException(
          s"fingerprint store $dir was written with scheme '$other', " +
            s"this build produces '$FpStoreFormat' — the keys are " +
            "incompatible equality classes; point the sink at a fresh store")
      case None =>
        require(!hasData,
          s"fingerprint store $dir predates format markers (its keys " +
            "come from an older fingerprint scheme and would silently " +
            "match nothing) — point the sink at a fresh store")
        fs.mkdirs(dir)
        stampFpFormat(fs, dir, marker)
    }
  }

  /** Write the format marker ATOMICALLY (temp file + rename): a crash
    * mid-write must never leave a half-written marker that wedges a
    * fresh store behind an incompatible-scheme error. */
  private def stampFpFormat(fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path,
      marker: org.apache.hadoop.fs.Path): Unit = {
    val tmp = new org.apache.hadoop.fs.Path(dir,
      s"._format.${java.util.UUID.randomUUID()}.tmp")
    val out = fs.create(tmp, false)
    try out.write(FpStoreFormat.getBytes("UTF-8")) finally out.close()
    require(fs.rename(tmp, marker),
      s"fingerprint store: cannot install format marker $marker")
  }

  /** The store's `__batch=` dirs, excluding `excludeBatchId`. */
  private def batchDirsOf(fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path,
      excludeBatchId: Long): Array[org.apache.hadoop.fs.Path] =
    (if (fs.exists(dir)) fs.listStatus(dir) else Array.empty)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("__batch=") &&
        s.getPath.getName != s"__batch=$excludeBatchId")
      .map(_.getPath)

  /** Compact the substring fingerprint store: rewrite the union of the
    * `__base` dir and every committed `__batch=` dir into a fresh
    * distinct base by [[graft.operators.Segments.replace]] (its crash
    * windows documented there; a crash before the absorbed batch dirs
    * are dropped leaves redundant-but-correct dirs), then drop the
    * absorbed batch dirs. `excludeBatchId` names the one batch that
    * may still be redelivered (the caller's in-flight batch) — its dir
    * is never absorbed, which is what keeps the redelivery
    * exclude-self read correct across a compaction. Safe to run
    * offline between stream runs with `excludeBatchId = None` (no
    * batch is in flight then). */
  def compactSubstringFpStore(spark: SparkSession, fpDir: String,
      excludeBatchId: Option[Long] = None): Unit = {
    val dir = new org.apache.hadoop.fs.Path(fpDir)
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    val base = s"$fpDir/__base"
    val absorb = batchDirsOf(fs, dir,
      excludeBatchId.getOrElse(Long.MinValue))
    if (absorb.isEmpty) graft.operators.Segments.recover(base)
    else {
      graft.operators.Segments.replace(base) { staged =>
        val srcs = (if (fs.exists(new org.apache.hadoop.fs.Path(base)))
          Seq(base) else Nil) ++ absorb.map(_.toString)
        spark.read.parquet(srcs: _*).distinct()
          .write.mode("overwrite").parquet(staged)
      }
      absorb.foreach(p => fs.delete(p, true))
    }
  }

  /** Stream-stream inner join on a key plus an EVENT-TIME interval:
    * right rows within `[leftTs, leftTs + window]` of a matching left
    * row (the ad impression→click attribution shape). Both sides carry
    * watermarks and the join condition bounds time in BOTH directions,
    * so Spark expires each side's buffered state as the other side's
    * watermark advances — without that bound a 100 TB/day stream pins
    * unbounded state. Column names must be disjoint across the sides
    * (standard stream-stream join constraint); output is append-only
    * once the watermark closes the interval. */
  def intervalJoinStreams(left: DataFrame, leftKey: String, leftTs: String,
      right: DataFrame, rightKey: String, rightTs: String,
      window: String, lateness: String = "10 seconds",
      joinType: String = "inner"): DataFrame = {
    val l = left.withWatermark(leftTs, lateness)
    val r = right.withWatermark(rightTs, lateness)
    l.join(r,
      col(leftKey) === col(rightKey) &&
        col(rightTs) >= col(leftTs) &&
        col(rightTs) <= col(leftTs) + expr(s"INTERVAL $window"),
      joinType)
  }

  /** Session-window aggregation (beyond the reference's tumbling-only
    * surface, SURVEY §2.9 note): Spark-native `session_window` merges
    * events separated by less than `gap` into one window per key; the
    * watermark both admits bounded lateness and lets sessions CLOSE
    * (a session emits only when the watermark passes last-event + gap).
    * State per open session is O(1) — this is the 100 TB-safe shape for
    * "visits" style rollups. Works identically on batch frames. */
  def sessionWindowAgg(events: DataFrame, tsCol: String, gap: String,
      lateness: String, keyCols: Seq[String],
      valueCol: String = "value"): DataFrame = {
    val keys = session_window(col(tsCol), gap) +: keyCols.map(col)
    events
      .withWatermark(tsCol, lateness)
      .groupBy(keys: _*)
      .agg(count(lit(1)).as("cnt"),
        sum(col(valueCol).cast("decimal(18,2)")).cast("double").as("total"))
  }

  /** Custom sessionization via `flatMapGroupsWithState` with an
    * EVENT-TIME timeout: per-user open-session state (start, last seen,
    * count), a closed `UserSession` emitted when the gap expires. The
    * arbitrary-state escape hatch for session logic `session_window`
    * can't express (e.g. emit-on-close only, custom close rules) —
    * SURVEY §2.9 T7's "mapGroupsWithState if rule windows needed",
    * upgraded to the flatMap + timeout form so state is dropped the
    * moment a session closes (bounded state, T10). */
  def userSessionsCustom(events: org.apache.spark.sql.Dataset[TagEvent],
      gapMs: Long): org.apache.spark.sql.Dataset[UserSession] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    events
      .withWatermark("ts", "10 seconds")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, UserSession](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (uid: Long, evs: Iterator[TagEvent],
            state: GroupState[SessionState]) =>
          if (evs.isEmpty && state.hasTimedOut) {
            // gap expired: close and emit the session, drop its state
            val s = state.get
            state.remove()
            Iterator(UserSession(uid,
              new java.sql.Timestamp(s.startMs),
              new java.sql.Timestamp(s.lastMs), s.nEvents))
          } else {
            val sorted = evs.toSeq.sortBy(_.ts.getTime)
            var closed = List.empty[UserSession]
            var s = state.getOption.orNull
            sorted.foreach { e =>
              val ms = e.ts.getTime
              s match {
                case null =>
                  s = SessionState(ms, ms, 1)
                case cur if ms - cur.lastMs < gapMs =>
                  s = cur.copy(lastMs = ms, nEvents = cur.nEvents + 1)
                case cur => // in-batch gap: close the old session now
                  closed ::= UserSession(uid,
                    new java.sql.Timestamp(cur.startMs),
                    new java.sql.Timestamp(cur.lastMs), cur.nEvents)
                  s = SessionState(ms, ms, 1)
              }
            }
            if (s != null) {
              state.update(s)
              // wake up when the watermark passes last-event + gap
              state.setTimeoutTimestamp(s.lastMs + gapMs)
            }
            closed.reverseIterator
          }
      }
  }

  /** T1/T6: run a streaming DataFrame into a parquet sink dir with a
    * checkpoint, micro-batch trigger. foreachBatch hosts multi-sink
    * fan-out (S8): every micro-batch lands in the main sink and any
    * side sinks (the reference fans out to Kudu/Kafka/HBase/MySQL). */
  def startParquetSink(out: DataFrame, path: String, checkpoint: String,
      sideSinks: Seq[DataFrame => Unit] = Nil,
      intervalMs: Long = 500): StreamingQuery =
    out.writeStream
      .outputMode("append")
      .trigger(Trigger.ProcessingTime(intervalMs))
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.persist()
        try {
          batch.write.mode("append").parquet(path)
          sideSinks.foreach(sink => sink(batch))
        } finally batch.unpersist()
        ()
      }
      .start()

  /** Streaming sink into a [[graft.operators.VersionedTable]]: each
    * micro-batch commits as ONE table version keyed by its batch id.
    * foreachBatch is at-least-once (a restarted query re-offers the
    * last batch), and the idempotency key collapses that to
    * exactly-once TABLE CONTENT; readers resolve committed snapshots
    * only, so they see whole micro-batches or nothing — the
    * transactional-visibility property a bare parquet-append sink
    * cannot give (its readers can list a half-written batch). */
  def versionedTableSink(out: DataFrame, root: String,
      checkpoint: String, intervalMs: Long = 500): StreamingQuery =
    out.writeStream
      .outputMode("append")
      .trigger(Trigger.ProcessingTime(intervalMs))
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.operators.VersionedTable.commit(batch.sparkSession, root,
          batch, idempotencyKey = Some(s"batch-$batchId"))
        ()
      }
      .start()

  /** Streaming UPSERT sink: each micro-batch MERGEs into the versioned
    * table by key (last-writer-wins within the batch is the caller's
    * contract — dedup the batch on the key first if the source can
    * repeat keys intra-batch). This is the streaming dimension/state
    * table maintenance pattern (CDC apply): unlike
    * [[versionedTableSink]]'s append, re-offered keys REPLACE their
    * rows, and the batch-id idempotency key keeps at-least-once
    * foreachBatch delivery exactly-once in table content. Copy-on-write
    * is dir-granular, so a trickle of upserts into a huge table
    * rewrites only the dirs holding the touched keys. */
  def versionedUpsertSink(out: DataFrame, root: String, keys: Seq[String],
      checkpoint: String, intervalMs: Long = 500): StreamingQuery =
    out.writeStream
      .outputMode("update")
      .trigger(Trigger.ProcessingTime(intervalMs))
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.operators.VersionedTable.merge(batch.sparkSession, root,
          batch, keys, idempotencyKey = Some(s"up-$batchId"))
        ()
      }
      .start()

  /** Streaming OLAP summary maintenance — the real-time cube/segment
    * build (Kylin streaming segments, Druid real-time ingestion;
    * reference docs/olap.md's MOLAP layer + docs/实时数仓.md's
    * real-time requirement, composed): each micro-batch of fact rows
    * incrementally maintains a materialized summary via
    * [[graft.plans.AggRouting.maintainSummary]] (delta-agg + exact
    * per-measure combine — the fact history is NEVER rescanned) and
    * commits the result as one [[graft.operators.VersionedTable]]
    * version, exactly-once via the batch-id idempotency key. Readers
    * and the agg-routing rule see whole micro-batches or nothing, and
    * maintained == rebuilt holds at every commit because every
    * registered measure decomposes exactly.
    *
    * 100 TB/day shape: per trigger the work is aggregating one
    * micro-batch plus re-combining against the summary (rows = live
    * dim combinations, not fact rows) and one summary-sized write. */
  def summaryMaintenanceSink(fact: DataFrame, summaryRoot: String,
      dims: Seq[String],
      measures: Map[org.apache.spark.sql.Column, String],
      checkpoint: String, intervalMs: Long = 500): StreamingQuery =
    fact.writeStream
      .outputMode("update")
      .trigger(Trigger.ProcessingTime(intervalMs))
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        import graft.operators.VersionedTable
        val spark = batch.sparkSession
        val aggCols = measures.toSeq.map { case (c, name) => c.as(name) }
        val updated =
          if (VersionedTable.versions(spark, summaryRoot).isEmpty)
            batch.groupBy(dims.map(col): _*)
              .agg(aggCols.head, aggCols.tail: _*)
          else graft.plans.AggRouting.maintainSummary(
            VersionedTable.read(spark, summaryRoot), batch, dims, measures)
        VersionedTable.commit(spark, summaryRoot, updated,
          overwrite = true, idempotencyKey = Some(s"sum-$batchId"))
        ()
      }
      .start()

  /** [[summaryMaintenanceSink]] for a whole cuboid LATTICE — the
    * real-time Kylin cube: each micro-batch folds into the BASE
    * cuboid only ([[graft.operators.Cube.maintainLattice]]: delta agg
    * + summary-sized combine, fact history never rescanned), then the
    * descendant cuboids are re-derived from the maintained base and
    * each committed as one [[graft.operators.VersionedTable]] version
    * under `<latticeRoot>/<dims joined by _>`, exactly-once via the
    * batch-id key. The base commits LAST: a reader (or a crash-replay)
    * observing base version N therefore knows every descendant is at
    * least at N, and the idempotent re-commit of descendants on
    * replay converges them. Per-trigger cost: one micro-batch
    * aggregation plus aggregations over summary-sized frames. */
  def latticeMaintenanceSink(fact: DataFrame, latticeRoot: String,
      baseDims: Seq[String],
      measures: Seq[graft.operators.Cube.MeasureDef],
      cuboids: Seq[Seq[String]],
      checkpoint: String, intervalMs: Long = 500): StreamingQuery =
    fact.writeStream
      .outputMode("update")
      .trigger(Trigger.ProcessingTime(intervalMs))
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        import graft.operators.{Cube, VersionedTable}
        val spark = batch.sparkSession
        def rootOf(dims: Seq[String]) = latticeRoot + "/" +
          graft.operators.Cube.mangle(dims) // collision-proof (see Cube)
        val baseAggs = measures.map(_.base)
        val lattice: Map[Seq[String], DataFrame] =
          if (VersionedTable.versions(spark, rootOf(baseDims)).isEmpty) {
            // layout guard: an EMPTY base path plus versioned state
            // under names this run does not recognize means the root
            // holds a lattice maintained under a different dim-name
            // encoding (the name mangle changed in r12) or different
            // dim lists — folding this stream's batches into a fresh
            // base would silently drop that history from every answer.
            // Fail loudly with a migration pointer instead.
            val expected = (cuboids :+ baseDims)
              .map(graft.operators.Cube.mangle).toSet
            val rootPath = new org.apache.hadoop.fs.Path(latticeRoot)
            val fs = rootPath.getFileSystem(
              spark.sparkContext.hadoopConfiguration)
            if (fs.exists(rootPath)) {
              val stray = fs.listStatus(rootPath).filter(_.isDirectory)
                .map(_.getPath.getName).filterNot(expected.contains)
                .filter(n => VersionedTable
                  .versions(spark, s"$latticeRoot/$n").nonEmpty)
              require(stray.isEmpty,
                s"latticeMaintenanceSink: $latticeRoot holds versioned " +
                  s"cuboid state under unrecognized names " +
                  s"(${stray.take(5).mkString(", ")}) — a lattice from " +
                  "a different dim-name encoding or dim list. Starting " +
                  "fresh here would silently drop that history; rename " +
                  "the directories to the current Cube.mangle names or " +
                  "point latticeRoot at a fresh location.")
            }
            val base = batch.groupBy(baseDims.map(col): _*)
              .agg(baseAggs.head, baseAggs.tail: _*)
            Map(baseDims -> base) ++ cuboids.map(d =>
              d -> Cube.derive(base, d, measures))
          } else Cube.maintainLattice(baseDims,
            VersionedTable.read(spark, rootOf(baseDims)), batch,
            measures, cuboids)
        cuboids.foreach { d =>
          VersionedTable.commit(spark, rootOf(d), lattice(d),
            overwrite = true, idempotencyKey = Some(s"cub-$batchId"))
        }
        VersionedTable.commit(spark, rootOf(baseDims), lattice(baseDims),
          overwrite = true, idempotencyKey = Some(s"cub-$batchId"))
        ()
      }
      .start()

  /** Streaming ANN index maintenance: each micro-batch of embedding
    * changes (insert/delete rows, [[graft.operators.VersionedTable]]
    * CDC shape) upserts into a persisted IVF index via
    * [[graft.operators.Similarity.ivfUpsert]] — the freshness path for
    * retrieval over a continuously-arriving corpus. foreachBatch is
    * at-least-once, and ivfUpsert's last-writer-wins tombstone
    * resolution makes re-delivery content-idempotent: a re-appended
    * row supersedes its earlier copy, so the live set is unchanged. */
  def annIndexSink(changes: DataFrame, indexDir: String,
      checkpoint: String, intervalMs: Long = 500,
      vecCol: String = "embedding", idCol: String = "vec_id")
      : StreamingQuery =
    changes.writeStream
      .outputMode("update")
      .trigger(Trigger.ProcessingTime(intervalMs))
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.operators.Similarity.ivfUpsert(batch.sparkSession,
          indexDir, batch, vecCol, idCol)
        ()
      }
      .start()

  /** Streaming search-index maintenance: feed
    * [[graft.operators.TextOps.invertedIndexUpsert]] from a document
    * CDC stream (same contract as [[annIndexSink]] for the ANN index).
    * Redelivery of a batch is content-idempotent: the re-applied
    * tombstones supersede the first delivery's rows and the re-inserted
    * postings carry the newer seq, so the resolved live set is
    * unchanged. */
  def searchIndexSink(changes: DataFrame, indexDir: String,
      checkpoint: String, intervalMs: Long = 500,
      textCol: String = "text", idCol: String = "doc_id")
      : StreamingQuery =
    changes.writeStream
      .outputMode("update")
      .trigger(Trigger.ProcessingTime(intervalMs))
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.operators.TextOps.invertedIndexUpsert(batch.sparkSession,
          indexDir, batch, textCol = textCol, idCol = idCol)
        ()
      }
      .start()

  /** Streaming quality monitoring with alerting (the reference's
    * 根据设定的阈值进行监控报警, docs/实时数仓.md:124): evaluate
    * [[graft.operators.QualityChecks]] rules on every micro-batch and
    * append the BREACHING rules to an alert table
    * (batch_id, rule, metric, threshold). The per-batch check is the
    * same single-pass aggregation as the batch form — rule count,
    * never data volume, bounds the overhead. */
  def qualityAlertSink(stream: DataFrame,
      rules: Seq[graft.operators.QualityChecks.Rule], alertDir: String,
      checkpoint: String, intervalMs: Long = 500): StreamingQuery =
    stream.writeStream
      .outputMode("update")
      .trigger(Trigger.ProcessingTime(intervalMs))
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.operators.QualityChecks.run(batch, rules)
          .filter(!col("pass"))
          .withColumn("batch_id", lit(batchId))
          .select("batch_id", "rule", "metric", "threshold")
          .write.mode("append").parquet(alertDir)
        ()
      }
      .start()

  /** T8: Kappa replay — recompute a result table by re-consuming the
    * source from the beginning into a FRESH checkpoint + staging dir,
    * then swap it in by [[graft.operators.Segments.swap]] (the old
    * table is renamed aside, never deleted in place; crash windows
    * documented there). `transform` is the shared batch/stream logic
    * (the reference mandates identical logic for both paths,
    * docs/实时数仓.md:93). */
  def kappaReplay(spark: SparkSession, sourceDf: DataFrame,
      transform: DataFrame => DataFrame,
      finalDir: String, stagingDir: String, checkpoint: String): Unit = {
    val q = transform(sourceDf).writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .format("parquet")
      .option("path", stagingDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // drop the FileStreamSink transaction log before the swap: its
    // absolute paths point at the staging dir, and the swapped-in
    // table is a plain parquet dir
    val staging = new org.apache.hadoop.fs.Path(stagingDir)
    staging.getFileSystem(spark.sessionState.newHadoopConf())
      .delete(new org.apache.hadoop.fs.Path(staging, "_spark_metadata"), true)
    graft.operators.Segments.swap(stagingDir, finalDir.stripSuffix("/"))
  }

  /** T9: batch↔stream differential validation (docs/实时数仓.md:118-124):
    * same aggregation over both paths, full-outer-joined on keys,
    * returning rows outside tolerance (empty = consistent). */
  def differentialValidate(batch: DataFrame, streamed: DataFrame,
      keys: Seq[String], metricCol: String,
      tolerance: Double = 0.0): DataFrame = {
    val b = batch.select((keys.map(col) :+ col(metricCol).as("batch_v")): _*)
    val st = streamed.select(
      (keys.map(col) :+ col(metricCol).as("stream_v")): _*)
    b.join(st, keys, "full_outer")
      .withColumn("abs_diff",
        abs(coalesce(col("batch_v"), lit(0.0)) -
          coalesce(col("stream_v"), lit(0.0))))
      .filter(col("abs_diff") > tolerance ||
        col("batch_v").isNull || col("stream_v").isNull)
  }
}
