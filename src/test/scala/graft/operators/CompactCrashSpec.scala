package graft.operators

import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths, StandardCopyOption}

/** Crash-window coverage for the compaction base swap
  * ([[Segments.swap]]): the live base directory is
  * replaced by two atomic renames, never an in-place delete, so a
  * maintainer dying at ANY instruction of a compaction leaves every
  * reader correct and the next compaction able to finish the job.
  * These tests construct the exact on-disk states of each crash
  * window by running the swap's own steps by hand. */
class CompactCrashSpec extends graft.SparkSuite {

  /** Tiny clustered vectors (dim 8) — enough for a deterministic
    * probe, small enough that each lifecycle job is milliseconds. */
  private lazy val vecs = {
    import spark.implicits._
    val rng = new scala.util.Random(3)
    val centers = Array.fill(4, 8)(rng.nextGaussian())
    (0 until 40).map { i =>
      val c = centers(i % 4)
      (i.toLong, c.map(x => (x + rng.nextGaussian() * 0.05).toFloat))
    }.toDF("vec_id", "embedding")
  }

  private def maintainedIvf(): (String, Seq[Double]) = {
    import spark.implicits._
    val dir = tmpDir("ivf_crash")
    Similarity.ivfBuildIndexKMeans(vecs, dir, nCentroids = 4, iters = 2)
    val row = vecs.filter(col("vec_id") === 0).head()
    val qArr = row.getSeq[Float](1)
    // overlay: one insert + one delete, so compaction has real work
    Similarity.ivfUpsert(spark, dir, Seq(
        (900L, qArr, "insert"), (4L, qArr, "delete"))
      .toDF("vec_id", "embedding", "change"))
    (dir, qArr.map(_.toDouble).toSeq)
  }

  private def probeIds(dir: String, q: Seq[Double]): Set[Long] =
    Similarity.ivfProbe(spark, dir, q, k = 5, nprobe = 4)
      .collect().map(_.getLong(0)).toSet

  test("IVF compaction crash BETWEEN the swap renames: probes read the " +
      "aside copy, the retry completes the swap, no debris survives") {
    val (dir, q) = maintainedIvf()
    val before = probeIds(dir, q)
    assert(before.contains(900L) && !before.contains(4L))
    // by-hand replay of ivfCompact up to the instruction between the
    // two renames: staged rewrite complete, base renamed aside
    Similarity.writePartitionedBase(
      Segments.resolveDeltaTable(spark, dir, s"$dir/vectors", "vec_id"),
      "bucket", s"$dir/vectors_compacting")
    Files.move(Paths.get(s"$dir/vectors"),
      Paths.get(s"$dir/vectors_precompact"),
      StandardCopyOption.ATOMIC_MOVE)
    assert(!new java.io.File(s"$dir/vectors").exists())
    // a probe in the crash window must still see the live set
    assert(probeIds(dir, q) == before,
      "probe wrong while the base is renamed aside")
    // the retried compaction repairs, then compacts normally
    Similarity.ivfCompact(spark, dir)
    assert(probeIds(dir, q) == before, "live set changed by recovery")
    Seq("vectors_precompact", "vectors_compacting", "_maint",
        "tombstones", "vectors_delta").foreach { d =>
      assert(!new java.io.File(s"$dir/$d").exists(), s"debris: $d")
    }
  }

  test("IVF compaction crash DURING the staged write: base wins over " +
      "the partial staged dir, the retry clears it") {
    val (dir, q) = maintainedIvf()
    val before = probeIds(dir, q)
    // a stale, WRONG staged dir (subset of the live rows) with the
    // base intact — readers must prefer the base unconditionally
    Similarity.writePartitionedBase(
      Segments.resolveDeltaTable(spark, dir, s"$dir/vectors", "vec_id")
        .limit(1),
      "bucket", s"$dir/vectors_compacting")
    assert(probeIds(dir, q) == before,
      "partial staged dir leaked into a probe")
    Similarity.ivfCompact(spark, dir)
    assert(probeIds(dir, q) == before)
    assert(!new java.io.File(s"$dir/vectors_compacting").exists())
  }

  test("compaction crash AFTER the base swap, BEFORE the cleanups: the " +
      "overlay re-applies idempotently over the compacted base") {
    import spark.implicits._
    // IVF: swap completed, _maint/tombstones/deltas all still on disk
    val (dir, q) = maintainedIvf()
    val before = probeIds(dir, q)
    Similarity.writePartitionedBase(
      Segments.resolveDeltaTable(spark, dir, s"$dir/vectors", "vec_id"),
      "bucket", s"$dir/vectors_compacting")
    Segments.swap(s"$dir/vectors_compacting", s"$dir/vectors")
    // the compacted base now holds the RESOLVED rows; the stale
    // overlay must not double-apply (delta rows re-union but the
    // tombstone keeps exactly one copy; deleted ids are gone from the
    // base and the tombstone kills nothing)
    assert(probeIds(dir, q) == before,
      "overlay did not re-apply idempotently over the compacted base")
    val wide = Similarity.ivfProbe(spark, dir, q, k = 1000, nprobe = 4)
      .collect().map(_.getLong(0))
    assert(wide.length == wide.distinct.length,
      s"duplicate ids: ${wide.diff(wide.distinct).toSeq}")
    // the retried compaction finishes the job
    Similarity.ivfCompact(spark, dir)
    assert(probeIds(dir, q) == before)
    // inverted index: postings swapped, doclen NOT, overlay intact —
    // the mixed state the crash-ordering argument explicitly covers
    val docs = Seq(
      (1L, "spark scan join"), (2L, "join filter"),
      (3L, "scan scan scan"), (4L, "filter join spark"))
      .toDF("doc_id", "text")
    val idir = tmpDir("inv_mixed")
    TextOps.buildInvertedIndex(docs, idir, shards = 4)
    TextOps.invertedIndexUpsert(spark, idir, Seq(
        (5L, "join join scan", "insert"), (3L, "", "delete"))
      .toDF("doc_id", "text", "change"), shards = 4)
    def top(): Seq[(Long, Double)] =
      TextOps.bm25TopKIndexed(spark, idir, Seq("join", "scan"), k = 10,
        shards = 4).collect()
        .map(r => (r.getLong(0), r.getDouble(2))).toSeq
    val want = top()
    Similarity.writePartitionedBase(
      Segments.resolveDeltaTable(spark, idir, s"$idir/postings", "doc_id"),
      "shard", s"$idir/postings_compacting")
    Segments.swap(s"$idir/postings_compacting", s"$idir/postings")
    assert(top() == want,
      "postings-compacted / doclen-raw mixed state answered wrong")
    TextOps.invertedIndexCompact(spark, idir)
    assert(top() == want)
  }

  test("index REBUILD over a previously MAINTAINED index discards the " +
      "stale overlay (old tombstones must not erase fresh rows)") {
    import spark.implicits._
    // IVF: maintain (delete 4, insert 900), then rebuild from the
    // original corpus — the rebuild's truth has 4 and lacks 900
    val (dir, q) = maintainedIvf()
    val maint = probeIds(dir, q)
    assert(maint.contains(900L) && !maint.contains(4L))
    Similarity.ivfBuildIndexKMeans(vecs, dir, nCentroids = 4, iters = 2)
    val wide = Similarity.ivfProbe(spark, dir, q, k = 1000, nprobe = 4)
      .collect().map(_.getLong(0)).toSet
    assert(wide.contains(4L),
      "stale tombstone from the pre-rebuild generation erased a fresh row")
    assert(!wide.contains(900L),
      "stale delta row from the pre-rebuild generation leaked in")
    // inverted index: delete doc 3, rebuild full — doc 3 scores again
    val docs = Seq(
      (1L, "spark scan join"), (2L, "join filter"),
      (3L, "scan scan scan"), (4L, "filter join spark"))
      .toDF("doc_id", "text")
    val idir = tmpDir("inv_rebuild")
    TextOps.buildInvertedIndex(docs, idir, shards = 4)
    TextOps.invertedIndexUpsert(spark, idir,
      Seq((3L, "", "delete")).toDF("doc_id", "text", "change"), shards = 4)
    def ids(): Set[Long] =
      TextOps.bm25TopKIndexed(spark, idir, Seq("scan"), k = 10,
        shards = 4).collect().map(_.getLong(0)).toSet
    assert(!ids().contains(3L))
    TextOps.buildInvertedIndex(docs, idir, shards = 4)
    assert(ids().contains(3L),
      "stale tombstone survived the inverted-index rebuild")
  }

  test("crashed index BUILD (artifact dir exists, no completion marker): " +
      "the cache guard rebuilds instead of trusting the partial dir") {
    val dir = tmpDir("ivf_build_crash")
    Similarity.ivfBuildIndex(vecs, dir, dim = 8, planes = 4)
    assert(Similarity.isBuilt(dir))
    val row = vecs.filter(col("vec_id") === 0).head()
    val q = row.getSeq[Float](1).map(_.toDouble).toSeq
    val truth = Similarity.bruteForceTopK(vecs, q, k = 5)
      .collect().map(_.getLong(0)).toSet
    // simulate a build that died during the centroids job: the dir
    // exists (first task commit created it) but holds no data, and the
    // completion marker was never written
    Similarity.clearBuilt(dir)
    val cents = new java.io.File(s"$dir/centroids")
    cents.listFiles().foreach(Segments.rmrf)
    assert(cents.exists(), "fixture must keep the empty dir")
    // the dir-exists guard this replaces would have probed the empty
    // centroids table and returned zero rows; the marker guard rebuilds
    val got = Similarity.ivfTopK(vecs, q, k = 5, dim = 8, planes = 4,
        nprobe = 16, indexDir = dir)
      .collect().map(_.getLong(0)).toSet
    assert(got == truth, s"got=$got truth=$truth")
    assert(Similarity.isBuilt(dir), "rebuild must re-mark completion")
  }

  test("inverted-index compaction crash between the swap renames: " +
      "BM25 reads the aside copy, the retry completes") {
    import spark.implicits._
    val docs = Seq(
      (1L, "spark scan join"), (2L, "join filter"),
      (3L, "scan scan scan"), (4L, "filter join spark"))
      .toDF("doc_id", "text")
    val dir = tmpDir("inv_crash")
    TextOps.buildInvertedIndex(docs, dir, shards = 4)
    TextOps.invertedIndexUpsert(spark, dir, Seq(
        (5L, "join join", "insert"), (3L, "", "delete"))
      .toDF("doc_id", "text", "change"), shards = 4)
    def top(): Seq[(Long, Double)] =
      TextOps.bm25TopKIndexed(spark, dir, Seq("join", "scan"), k = 10,
        shards = 4).collect()
        .map(r => (r.getLong(0), r.getDouble(2))).toSeq
    val before = top()
    assert(before.map(_._1).contains(5L) && !before.map(_._1).contains(3L))
    // crash window on the postings swap
    Similarity.writePartitionedBase(
      Segments.resolveDeltaTable(spark, dir, s"$dir/postings", "doc_id"),
      "shard", s"$dir/postings_compacting")
    Files.move(Paths.get(s"$dir/postings"),
      Paths.get(s"$dir/postings_precompact"),
      StandardCopyOption.ATOMIC_MOVE)
    assert(top() == before, "BM25 wrong while postings renamed aside")
    TextOps.invertedIndexCompact(spark, dir)
    assert(top() == before, "BM25 changed by recovery")
    Seq("postings_precompact", "postings_compacting", "doclen_precompact",
        "doclen_compacting", "_maint", "tombstones", "postings_delta",
        "doclen_delta").foreach { d =>
      assert(!new java.io.File(s"$dir/$d").exists(), s"debris: $d")
    }
  }
}
