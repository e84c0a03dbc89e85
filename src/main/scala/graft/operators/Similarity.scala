package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions._

/** Approximate-nearest-neighbor search over embedding columns
  * (SURVEY.md §7E).
  *
  * Scale design: brute-force top-k against a single query is a pure
  * map + TakeOrdered — it parallelizes perfectly but reads the whole
  * table. The LSH path prunes the scan to matching buckets; the IVF path
  * (k-means-ish coarse quantizer via label or bucket centroids) prunes
  * to the nearest partitions. For a full knn-join (every row to its
  * top-k), the bucket self-join keeps the pair space near-linear.
  */
object Similarity {

  /** Random-hyperplane LSH signature (Charikar 2002): sign bits of the
    * dot product with `planes` deterministic pseudo-random hyperplanes.
    * Native codegen Expression ([[graft.functions.HyperplaneLSH]]) — the
    * plane matrix is a single reference object, so generated code stays
    * O(1) in the embedding dimension (works at dim=1024+) instead of
    * unrolling planes*dim arithmetic terms into the task binary. */
  def hyperplaneSignature(vec: Column, dim: Int, planes: Int,
      seed: Long = 42L): Column =
    graft.functions.HyperplaneLSH.hyperplaneLsh(vec, dim, planes, seed)

  /** Plane count that keeps LSH background buckets O(1) as the corpus
    * grows — the executable form of the SCALE.md rule. Random
    * (non-similar) pairs collide in one signature with probability
    * ~2^-planes, so expected background candidates are
    * ~probes * n^2 / 2^planes; holding that at ~n means
    * `planes = ceil(2 * log2 n)` (measured exponent 1.95 at FIXED 12
    * planes on the sf probe — exactly the n²/2^c prediction). Clamped
    * to [8, 48]: below 8 buckets are too coarse to prune anything,
    * and 48 bits already keeps background linear past 16M vectors
    * while staying one 64-bit signature word. Callers with a known
    * corpus size pass `planesFor(n)` instead of the fixture defaults;
    * recall lost to the narrower buckets is bought back with `probes`
    * (independent seeds OR together), which multiplies candidates
    * linearly rather than quadratically. */
  def planesFor(n: Long): Int = {
    require(n > 0, s"planesFor: corpus size must be positive, got $n")
    val bits = 2.0 * math.log(n.toDouble) / math.log(2.0)
    math.min(48, math.max(8, math.ceil(bits).toInt))
  }

  /** Brute-force cosine top-k against one query vector: map + global
    * top-k (TakeOrderedAndProject — no full sort, no shuffle of data,
    * only k rows per partition reach the driver). */
  def bruteForceTopK(embeddings: DataFrame, query: Seq[Double], k: Int,
      vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    val q = lit(query.toArray)
    embeddings.select(col(idCol),
        cosineSimilarity(col(vecCol), q).as("cos"))
      .orderBy(desc("cos"), asc(idCol))
      .limit(k)
  }

  /** Candidate pairs among LSH bucket-mates, SPILLABLE: checkpoint the
    * (probe, bucket, id) rows — signatures computed ONCE, ~20 B/row,
    * never the embeddings — and sort-merge self-join on (probe,
    * bucket). The checkpoint is what a naive self-join lacks (it would
    * scan and sign the corpus twice, once per join side); the SMJ is
    * what the earlier collect_list shape lacked — its per-bucket id
    * arrays all sat in one task's hash-agg buffers, non-spillable by
    * construction (the exact shape the r12 100× ngram probe measured
    * OOMing, Dedup.ngramCandidates), while the SMJ sorts externally so
    * task memory is one bucket's run. Bucket-mate pair counts stay
    * bounded by the [[planesFor]] sizing rule (expected O(1) occupancy
    * at any corpus size) — and, independently of caller sizing, by the
    * `cap` guard below; a pathologically hot bucket of MASS-IDENTICAL
    * vectors (equal sub-signatures, unsplittable) must still be
    * collapsed upstream (exact dedup first — semanticDedup step 1).
    *
    * `cap > 0` enables the occupancy guard and requires a `sub` column
    * in `probed` (a deep LSH sub-signature of the SAME vector, computed
    * in the same pass as `bucket`): any (probe, bucket) group larger
    * than `cap` gets ceil(log2(sz/cap)) of its sub-signature bits
    * folded into the bucket key, dropping EXPECTED occupancy to ~cap —
    * so total candidate pairs are O(n·cap·probes) no matter how the
    * caller sized `planes` (the r12 100× probe measured the unguarded
    * form OOMing at planes=10 over 200k vectors: n²·probes/2^planes ≈
    * 156M pairs). Near pairs (θ→0) keep equal sub bits with probability
    * (1-θ/π)^bits ≈ 1, so recall at dedup/kNN-grade similarity is
    * untouched; unrelated bucket-mates split ~uniformly — exactly the
    * pair work the guard exists to prune. The oversized-group list is
    * broadcast: ≤ n·probes/cap rows by construction, driver-safe at any
    * corpus size. Groups at or under `cap` keep their key bits
    * verbatim, so when no group exceeds `cap` the output is identical
    * to the unguarded form. (A folded key `b·2^16+sub` colliding with a
    * cold key merely MERGES two buckets — extra verified-downstream
    * candidates, never lost ones.)
    *
    * `ordered=true` keeps both (a,b) and (b,a) — the kNN-join needs
    * each vector's neighbor list; `false` keeps a<b only (dedup pairs).
    * Both join sides carry an explicit-width repartition (bucket rows
    * are tiny in bytes, and AQE's size-based coalescing would run the
    * CPU-bound pair expansion nearly single-threaded); output is
    * deduped across probes and repartitioned wide on the pair key for
    * the same reason. Checkpoint blocks are freed by the async
    * ContextCleaner once the returned frame is unreferenced (Bench
    * additionally sweeps persistent RDDs between queries); the
    * checkpoint makes CONSTRUCTION eager — callers build this frame
    * only when about to run it. */
  private[graft] def bucketMatePairs(probed: DataFrame,
      ordered: Boolean, cap: Int = 0): DataFrame = {
    val par = probed.sparkSession.sparkContext.defaultParallelism
    val baseCols =
      if (cap > 0) Seq(col("probe"), col("bucket"), col("id"), col("sub"))
      else Seq(col("probe"), col("bucket"), col("id"))
    val rows0 = probed.select(baseCols: _*).localCheckpoint()
    val rows =
      if (cap <= 0) rows0
      else {
        val oversized = rows0.groupBy("probe", "bucket")
          .agg(count(lit(1)).as("__sz"))
          .filter(col("__sz") > cap)
          .select(col("probe"), col("bucket"),
            ceil(log2(col("__sz").cast("double") / cap))
              .cast("int").as("__p"))
        rows0.join(broadcast(oversized), Seq("probe", "bucket"), "left")
          .withColumn("bucket",
            when(col("__p").isNull, col("bucket"))
              .otherwise(col("bucket") * 65536L + col("sub").bitwiseAND(
                expr("shiftleft(CAST(1 AS BIGINT), least(__p, 16)) - 1"))))
          .drop("__p", "sub")
      }
    val a = rows.withColumnRenamed("id", "id_a")
      .repartition(par, col("probe"), col("bucket"))
    val b = rows.withColumnRenamed("id", "id_b")
      .repartition(par, col("probe"), col("bucket"))
    val pairs = a.join(b, Seq("probe", "bucket"))
    (if (ordered) pairs.filter(col("id_a") =!= col("id_b"))
     else pairs.filter(col("id_a") < col("id_b")))
      .select("id_a", "id_b")
      .repartition(par, col("id_a"), col("id_b"))
      .dropDuplicates("id_a", "id_b")
  }

  /** Self kNN-join via LSH buckets: every vector gets its top-k most
    * similar bucket-mates. Multi-probe = OR of `probes` signatures with
    * different seeds raises recall.
    *
    * Shape for 100 TB: the bucket-mate pairing carries ONLY (probe,
    * bucket, id, sub) — never the embeddings — candidate pairs are
    * deduped across probes, then the vectors join back once per side
    * for a single cosine evaluation per pair (same candidates-then-
    * verify shape as the dedup operators). `maxBucket` is the
    * occupancy guard (see [[bucketMatePairs]]): candidate pairs stay
    * O(n·maxBucket·probes) even when `planes` is undersized for the
    * corpus — size `planes` with [[planesFor]] anyway; the guard is a
    * bound, not a substitute for pruning. */
  def lshKnnJoin(embeddings: DataFrame, k: Int, dim: Int = 64,
      planes: Int = 10, probes: Int = 2, maxBucket: Int = 64,
      vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    val vecs = embeddings.select(col(idCol).as("id"), col(vecCol).as("v"))
    // per-probe `sub` (independent seeds, disjoint from the primary
    // 42L+p family) feeds the bucketMatePairs occupancy guard; an
    // independent sub per probe decorrelates the rare near-pair split
    // across probes, so multi-probe recall buys back guard losses too
    val probed = (0 until probes).map { p =>
      embeddings.select(col(idCol).as("id"),
        hyperplaneSignature(col(vecCol), dim, planes, seed = 42L + p)
          .as("bucket"),
        hyperplaneSignature(col(vecCol), dim, planes = 16,
          seed = 9000L + p).as("sub"))
        .withColumn("probe", lit(p))
    }.reduce(_ unionByName _)
    val pairs = bucketMatePairs(probed, ordered = true, cap = maxBucket)
      .join(vecs.select(col("id").as("id_a"), col("v").as("v_a")),
        Seq("id_a"))
      .join(vecs.select(col("id").as("id_b"), col("v").as("v_b")),
        Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        cosineSimilarity(col("v_a"), col("v_b")).as("cos"))
    // heap-based top-k per query vector (graft.plans.TopKPerGroup):
    // the window/row_number form sorts every query's full candidate
    // list; the heap keeps k rows per group with map-side partials, so
    // a hot vector (huge candidate list) never forces a full sort. The
    // (cos desc, id_b asc) order is total per group — output identical
    // to the ranked-window form.
    graft.plans.TopKPerGroup.topKPerGroup(pairs, Seq(col("id_a")),
      Seq(desc("cos"), asc("id_b")), k)
  }

  /** IVF index build: assign every vector an LSH coarse bucket and
    * compute per-bucket centroids, PERSISTED as two parquet tables
    * (`<indexDir>/vectors`, partitioned by bucket, and
    * `<indexDir>/centroids`). Build once per corpus; at 100 TB this is
    * the one full scan, after which every probe reads only
    * nprobe/nbuckets of the data via partition pruning on `bucket`.
    * Element-wise centroid mean via `aggregate`/`zip_with` over the
    * vector column — O(1) expression size in `dim`, unlike a per-
    * dimension agg list. */
  def ivfBuildIndex(embeddings: DataFrame, indexDir: String,
      dim: Int = 64, planes: Int = 8,
      vecCol: String = "embedding", idCol: String = "vec_id"): Unit = {
    resetForRebuild(indexDir, "index", IvfTables)
    val bucketed = embeddings.select(col(idCol), col(vecCol),
      hyperplaneSignature(col(vecCol), dim, planes).as("bucket"))
    graft.Engine.label(embeddings.sparkSession, "ivf build: vectors write")(
      writePartitionedBase(bucketed, "bucket", s"$indexDir/vectors"))
    // centroid = per-bucket vector mean as ONE typed aggregate
    // ([[graft.functions.VecSumCountAgg]], map-side partial combine):
    // the shuffle carries one (dim·8B + count) buffer per bucket per
    // partition — not the buckets×dim exploded rows of a
    // posexplode/groupBy(bucket, pos) formulation, and never an
    // in-memory materialization of a whole bucket
    val spark = embeddings.sparkSession
    graft.Engine.label(spark, "ivf build: centroids")(
      Segments.read(spark, Segments.readable(s"$indexDir/vectors"))
        .select(col("bucket"),
          transform(col(vecCol), _.cast("double")).as("dv"))
        .groupBy("bucket")
        .agg(graft.functions.VecSumCountAgg.vecSumCount(col("dv"), dim)
          .as("sc"))
        .filter(col("sc.n") > 0)
        .select(col("bucket"),
          transform(col("sc.sums"), x => x / col("sc.n")).as("centroid"))
        .write.mode("overwrite").parquet(s"$indexDir/centroids"))
    markBuilt(indexDir)
  }

  /** IVF index build with K-MEANS coarse quantization (the standard IVF
    * construction): Lloyd iterations on a (deterministic) training
    * sample of unit-normalized vectors — so L2 argmin == cosine argmax
    * — then one full-data assignment pass, persisted exactly like
    * [[ivfBuildIndex]] (`vectors/` partitioned by bucket + `centroids/`)
    * so [[ivfProbe]] works unchanged. At 100 TB: train on the sample
    * (one scan of sampleFraction), assign with a broadcast centroid
    * table (one scan, map-only + write), never an all-pairs step. */
  def ivfBuildIndexKMeans(embeddings: DataFrame, indexDir: String,
      nCentroids: Int = 32, iters: Int = 3, sampleFraction: Double = 1.0,
      vecCol: String = "embedding", idCol: String = "vec_id"): Unit = {
    resetForRebuild(indexDir, "index", IvfTables)
    val vecs = embeddings.select(col(idCol).as("id"),
      col(vecCol).as("v"),
      normalized(col(vecCol)).as("nv"))
    val centroids = kmeansCentroids(vecs.select("id", "nv"),
      nCentroids, iters, sampleFraction)

    writePartitionedBase(
      assignNearest(vecs.select(col("id"), col("v"), col("nv")), centroids)
        .select(col("id").as(idCol), col("v").as(vecCol), col("bucket")),
      "bucket", s"$indexDir/vectors")
    centroids.write.mode("overwrite").parquet(s"$indexDir/centroids")
    centroids.unpersist()
    markBuilt(indexDir)
  }

  /** Distributed k-means over (id, nv) unit vectors: deterministic
    * hash-ordered init, Lloyd iterations with per-(bucket, dimension)
    * partial-aggregated means. Returns a CACHED (bucket, centroid)
    * frame — callers unpersist when done. Shared by the IVF index build
    * and [[Dedup.semanticDedup]]. */
  private[graft] def kmeansCentroids(train0: DataFrame,
      nCentroids: Int, iters: Int,
      sampleFraction: Double = 1.0): DataFrame = {
    val spark = train0.sparkSession
    val train = (if (sampleFraction < 1.0)
      train0.filter(pmod(xxhash64(col("id")), lit(1000)) <
        lit((sampleFraction * 1000).toLong))
    else train0).select("id", "nv")

    // driver-local twin ([[graft.Engine.boundedLocal]]) capped at
    // 65,536 vectors, since the rows are vectors: at dim 64 that is
    // 32 MiB — the same memory class as the centroid broadcast the
    // distributed loop ships every iteration — and the local loop
    // replaces iters × (broadcast + shuffle job) with the one probe.
    // At 100 TB the caller trains on a bounded draw (`sampleFraction`).
    graft.Engine.boundedLocal(
        train.select(xxhash64(col("id")).as("h"), col("id"), col("nv")),
        "kmeansCentroids", cap = 65536L) match {
      case Some(rows) => return localKmeans(spark, rows, nCentroids, iters)
      case None =>
    }

    // The centroid table lives DRIVER-SIDE through the Lloyd loop: it
    // is tiny by construction (k ≤ 65,536 at dim 64 is 32 MiB — the
    // bound [[broadcastCentroids]] already documents, and every
    // iteration already collected it there to broadcast). Each
    // iteration is ONE distributed job: broadcast-kernel assign fused
    // with a per-bucket (Σ vector, count) typed aggregate
    // ([[graft.functions.VecSumCountAgg]], map-side partial combine),
    // collected as k ROWS. The earlier posexplode formulation shuffled
    // n×dim exploded rows per iteration and collected k×dim Row
    // objects (~4.2 M at the k=65 536 × dim 64 ceiling) — a real wall
    // on the un-sampled 100 TB path; this one shuffles one
    // (dim·8B + 8B) buffer per bucket per partition and the collect is
    // k rows regardless of dim×k.
    // deterministic init: the nCentroids training vectors with the
    // smallest id-hash (a seeded random draw both runs agree on)
    // null-element vectors are excluded BEFORE the limit — the same
    // order as localKmeans (filter at collection, then take k), so
    // both paths seed the same k centroids; filtering after the limit
    // would silently under-seed whenever a null vector hashed into the
    // first k
    var cents: Array[(Long, Array[Double])] = train
      .filter(!exists(col("nv"), _.isNull))
      .orderBy(xxhash64(col("id")), col("id")).limit(nCentroids)
      .select("nv").collect().zipWithIndex
      .map { case (r, i) => (i.toLong, r.getSeq[Double](0).toArray) }

    for (_ <- 1 to iters if cents.nonEmpty) {
      val bc = spark.sparkContext.broadcast(
        graft.functions.CentroidTopK.centroids(cents))
      val means = meansFrame(train, bc, cents.head._2.length).collect()
      // buckets that attracted no vectors drop out, as before (a
      // bucket whose every row was skipped — wrong dim / NaN — too)
      cents = means.flatMap { r =>
        val n = r.getLong(2)
        if (r.isNullAt(0) || n == 0L) None
        else Some((r.getLong(0), r.getSeq[Double](1).toArray.map(_ / n)))
      }.sortBy(_._1)
    }
    val out = spark.createDataFrame(
        cents.toSeq.map { case (b, v) => (b, v.toSeq) })
      .toDF("bucket", "centroid").cache()
    out.count()
    out
  }

  /** One Lloyd iteration's distributed mean-update frame:
    * (bucket, sums, n) with nearest-centroid assignment via the
    * broadcast kernel and the per-bucket vector sum as a single typed
    * aggregate — no posexplode, no per-dimension rows. Factored out so
    * SimilaritySpec can pin the plan shape (exactly one aggregate, no
    * Generate node). */
  private[graft] def meansFrame(train: DataFrame,
      bc: org.apache.spark.broadcast.Broadcast[
        graft.functions.CentroidTopK.Centroids],
      dim: Int): DataFrame =
    train
      .withColumn("bucket", element_at(
        graft.functions.CentroidTopK.centroidTopK(bc, col("nv"), 1), 1))
      .groupBy("bucket")
      .agg(graft.functions.VecSumCountAgg.vecSumCount(col("nv"), dim)
        .as("sc"))
      .select(col("bucket"), col("sc.sums").as("sums"), col("sc.n").as("n"))

  /** Driver-local Lloyd loop for bounded training sets: one collect,
    * then iters × (argmax assign + mean) in memory. Mirrors the
    * distributed loop's semantics — same smallest-id-hash init, same
    * strict-`>`-keeps-lower-bucket tie rule as the
    * [[graft.functions.CentroidTopK]] kernel, empty buckets drop —
    * and returns the same cached (bucket, centroid) frame. */
  private def localKmeans(spark: org.apache.spark.sql.SparkSession,
      collected: Array[org.apache.spark.sql.Row], nCentroids: Int,
      iters: Int): DataFrame = {
    val rows = collected
      .sortBy(r => (r.getLong(0), String.valueOf(r.get(1))))
      // null vectors and null-element vectors are dropped BEFORE
      // unboxing — Scala unboxes a boxed null to 0.0 silently, which
      // would both seed and train on a phantom zero coordinate (same
      // skip rule as VecAcc.add on the distributed path; the whole-
      // null case is real dirty data, not just a degenerate fixture)
      .filter { r =>
        val s = r.getSeq[Any](2)
        s != null && !s.contains(null)
      }
      .map(_.getSeq[Double](2).toArray)
    var cents: Array[(Long, Array[Double])] =
      rows.take(nCentroids).zipWithIndex.map { case (v, i) => (i.toLong, v) }
    for (_ <- 1 to iters if cents.nonEmpty) {
      val dim = cents.head._2.length
      val sums = new java.util.TreeMap[Long, (Array[Double], Array[Long])]
      rows.foreach { v =>
        if (v.length == dim && !v.exists(x => x != x)) {
          var best = -1; var bestDot = Double.NegativeInfinity
          var c = 0
          while (c < cents.length) {
            val cv = cents(c)._2
            var dot = 0.0; var i = 0
            while (i < dim) { dot += v(i) * cv(i); i += 1 }
            if (dot > bestDot) { bestDot = dot; best = c }
            c += 1
          }
          val b = cents(best)._1
          val acc = sums.computeIfAbsent(b,
            _ => (new Array[Double](dim), new Array[Long](1)))
          var i = 0
          while (i < dim) { acc._1(i) += v(i); i += 1 }
          acc._2(0) += 1
        }
      }
      import scala.jdk.CollectionConverters._
      cents = sums.entrySet().asScala.toArray.map { e =>
        val (s, n) = e.getValue
        (e.getKey, s.map(_ / n(0)))
      }
    }
    val out = spark.createDataFrame(
        cents.toSeq.map { case (b, v) => (b, v.toSeq) })
      .toDF("bucket", "centroid").cache()
    out.count()
    out
  }

  /** Collect the (small-by-construction) centroid table driver-side.
    * The collect is bounded: nCentroids ≤ 65,536 at dim 64 is 32 MiB —
    * the same order as any broadcast-join build side. */
  private def collectCentroids(centroids: DataFrame)
      : Array[(Long, Array[Double])] =
    // bucket is LONG from the builders but reads back INT when it came
    // through a partition column (small values type-infer) — accept both
    centroids.select("bucket", "centroid").collect()
      .map(r => (r.get(0) match {
        case i: java.lang.Integer => i.longValue()
        case l: java.lang.Long => l.longValue()
      }, r.getSeq[Double](1).toArray))

  // ---- persisted-centroid cache: a centroid table is tiny (≤2^planes
  // rows), read-only between rebuilds (upsert/compact never touch it),
  // and consulted by EVERY probe and upsert — without a cache each
  // consult schedules a whole collect job just to re-read a table
  // whose bytes have not changed. Keyed on the dir's file listing
  // (name, length, mtime), so a rebuild (fresh files) misses and a
  // non-local path (no java.io view) bypasses the cache entirely.
  private val centroidCache =
    new java.util.LinkedHashMap[String, Array[(Long, Array[Double])]](
      16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, Array[(Long, Array[Double])]])
          : Boolean = size() > 8
    }

  private def centroidSig(path: String): Option[String] = {
    val d = new java.io.File(path)
    if (!d.isDirectory) return None
    Option(d.listFiles()).map(_.filter(_.isFile).sortBy(_.getName)
      .map(f => s"${f.getName}:${f.length}:${f.lastModified}")
      .mkString("|"))
  }

  private[operators] def readCentroids(
      spark: org.apache.spark.sql.SparkSession, path: String)
      : Array[(Long, Array[Double])] =
    centroidSig(path) match {
      case Some(sig) =>
        val key = s"$path@$sig"
        val hit = centroidCache.synchronized(centroidCache.get(key))
        if (hit != null) hit
        else {
          val v = collectCentroids(Segments.read(spark, path))
          centroidCache.synchronized { centroidCache.put(key, v); () }
          v
        }
      case None => collectCentroids(Segments.read(spark, path))
    }

  /** The probe's bucket selection, DRIVER-SIDE over cached centroids:
    * top-`nprobe` by (cos desc, bucket asc) — the same sequential-fold
    * cosine as [[graft.functions.VectorSim]] (identical doubles), the
    * same ordering as the job it replaces. Returns boxed values whose
    * runtime type matches the bucket partition column's inference
    * (INT when every id fits) so `isin` prunes partitions unchanged. */
  private def nearestBuckets(cents: Array[(Long, Array[Double])],
      query: Seq[Double], nprobe: Int): Array[Any] = {
    val q = query.toArray
    // the ORDERING replicates the job this replaces exactly, including
    // its degenerate corners: Spark's desc ranks NaN largest (first),
    // valid cosines next (descending), and a dim-mismatched centroid
    // scored NULL by the VectorSim kernel LAST — scoring a mismatch
    // 0.0 instead would let a corrupt centroid outrank every valid
    // negative-cosine bucket. Ties break by bucket ascending.
    def cos(a: Array[Double]): java.lang.Double = {
      if (a.length != q.length) return null
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) {
        dot += a(i) * q(i); na += a(i) * a(i); nb += q(i) * q(i); i += 1
      }
      val denom = math.sqrt(na) * math.sqrt(nb)
      if (denom == 0.0) 0.0 else dot / denom
    }
    val picked = cents.map { case (b, c) => (b, cos(c)) }
      .sortBy { case (b, c) =>
        val rank =
          if (c == null) (2, 0.0)                   // NULL: last
          else if (c.isNaN) (0, 0.0)                // NaN: first (desc)
          else (1, -c.doubleValue())                // valid: descending
        (rank._1, rank._2, b)
      }
      .take(nprobe).map(_._1)
    if (picked.forall(b => b >= Int.MinValue && b <= Int.MaxValue))
      picked.map(b => Int.box(b.toInt): Any)
    else picked.map(b => Long.box(b): Any)
  }

  /** Ship collected centroids as ONE torrent broadcast for the
    * [[graft.functions.CentroidTopK]] kernel. */
  private def broadcastCentroids(vecs: DataFrame,
      cents: Array[(Long, Array[Double])])
      : org.apache.spark.broadcast.Broadcast[
        graft.functions.CentroidTopK.Centroids] =
    vecs.sparkSession.sparkContext.broadcast(
      graft.functions.CentroidTopK.centroids(cents))

  /** The empty assignment: `vecs`'s columns plus a long `bucket`,
    * zero rows. An empty centroid table can only come from an empty
    * (or all-null-vector) training corpus — k-means seeds from the
    * corpus itself — so there is nothing comparable to assign; a
    * zero-row split at 100 TB (a quiet hour, a new tenant) must
    * degrade to an empty index, not throw. */
  private def emptyAssigned(vecs: DataFrame): DataFrame =
    vecs.filter(lit(false)).withColumn("bucket", lit(0L))

  /** Argmax-cosine assignment as a PURE MAP: one fused
    * [[graft.functions.CentroidTopK]] kernel pass per row against the
    * BROADCAST centroid matrix — no crossJoin, no shuffle, and O(1)
    * plan size in nCentroids. (The previous `greatest()`-over-structs
    * form inlined every centroid as a plan Literal: fine at k≈25,
    * a multi-hundred-MB plan + codegen bomb at semanticDedup's derived
    * k ≤ 65,536.) Exact dot ties take the lower bucket —
    * deterministic, and measure-zero on real data. */
  private[graft] def assignNearest(vecs: DataFrame,
      centroids: DataFrame): DataFrame =
    assignNearestC(vecs, collectCentroids(centroids))

  /** [[assignNearest]] over pre-collected (possibly cached) centroids. */
  private[graft] def assignNearestC(vecs: DataFrame,
      cents: Array[(Long, Array[Double])]): DataFrame = {
    if (cents.isEmpty) return emptyAssigned(vecs)
    val bc = broadcastCentroids(vecs, cents)
    vecs.withColumn("bucket", element_at(
      graft.functions.CentroidTopK.centroidTopK(bc, col("nv"), 1), 1))
  }

  /** SOFT assignment: each vector gets its `k` nearest centroids (one
    * output row per (vector, bucket)). Single (hard) assignment has a
    * Voronoi-boundary blind spot: two near-identical vectors sitting
    * on a cell boundary can land in different cells, so a
    * within-cluster pass never compares them. With top-2 assignment a
    * boundary pair shares the runner-up cell — this is what makes
    * semanticDedup's planted-dup contract deterministic. Shape: the
    * same broadcast [[graft.functions.CentroidTopK]] kernel returning
    * the top-k buckets as an array, exploded to k rows per vector —
    * map-only; the previous crossJoin+TopKPerGroup form expanded every
    * row nCentroids-fold before reducing, which at derived k is a
    * |vecs|·65,536 row blow-up. */
  private[graft] def assignNearestK(vecs: DataFrame,
      centroids: DataFrame, k: Int): DataFrame = {
    val cents = collectCentroids(centroids)
    if (cents.isEmpty) return emptyAssigned(vecs).select("id", "nv", "bucket")
    val bc = broadcastCentroids(vecs, cents)
    vecs.withColumn("bucket", explode(
        graft.functions.CentroidTopK.centroidTopK(bc, col("nv"), k)))
      .select("id", "nv", "bucket")
  }

  /** Unit-normalized double view of a vector (zero vectors pass
    * through unscaled) — native one-pass kernel; the lambda form
    * re-evaluated the norm per element after projection collapse. */
  private[graft] def normalized(vec: Column): Column =
    graft.functions.UnitNorm.unitNorm(vec)

  /** IVF probe: read the persisted index, pick the `nprobe` buckets whose
    * centroids are nearest the query (centroid table is tiny → driver-
    * side top-nprobe then a broadcast semi-join that PRUNES the bucket-
    * partitioned vector table), brute-force only inside those buckets.
    * No part of the index is recomputed at query time. */
  def ivfProbe(spark: org.apache.spark.sql.SparkSession, indexDir: String,
      query: Seq[Double], k: Int, nprobe: Int = 8,
      vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    val q = lit(query.toArray)
    // bucket selection driver-side over the cached centroid table —
    // the previous form scheduled a whole collect job per probe to
    // re-read a tiny read-only table (see readCentroids)
    val buckets = nearestBuckets(
      readCentroids(spark, s"$indexDir/centroids"), query, nprobe)
    Segments.resolveDeltaTable(spark, indexDir, s"$indexDir/vectors", idCol)
      .filter(bucketIn(buckets)) // partition-pruned scan
      .select(col(idCol), cosineSimilarity(col(vecCol), q).as("cos"))
      .orderBy(desc("cos"), asc(idCol))
      .limit(k)
  }

  // ------------------------------------------ incremental IVF maintenance

  /** The IVF index's maintained tables: its rebuild and its compaction
    * derive the overlay from this one list ([[Segments.dropOverlay]]). */
  private val IvfTables = Seq("vectors")

  /** Incrementally maintain a persisted IVF index from a change feed —
    * the FAISS add/remove_ids lifecycle on the [[ivfBuildIndexKMeans]]
    * layout, fed by batches or a versioned-table CDC frame
    * ([[VersionedTable.changesBetween]]'s shape: vector columns +
    * `change` ∈ insert|delete):
    *  - INSERTS assign to the EXISTING centroids (broadcast, map-only)
    *    and append into the bucket partitions — centroids stay fixed
    *    between periodic retrains, standard IVF practice (recall
    *    degrades only as the data distribution drifts);
    *  - DELETES (and the old rows of updates) are TOMBSTONES: an
    *    appended `(id, seq)` list, resolved at probe time by
    *    last-writer-wins on the maintenance sequence and physically
    *    reclaimed by [[ivfCompact]].
    * An update is its CDC delete+insert pair: the insert's row carries
    * the batch's seq and survives its own tombstone (tseq <= seq).
    * Single maintainer at a time (like compaction); probes stay
    * snapshot-consistent per scan. PQ code tables are NOT maintained
    * here — re-encode after compaction. Returns the batch seq.
    *
    * CRASH-IDEMPOTENT under at-least-once redelivery (foreachBatch,
    * [[graft.streaming.StreamOps.annIndexSink]]): the batch is one
    * [[Segments.commitBatch]]. */
  def ivfUpsert(spark: org.apache.spark.sql.SparkSession, indexDir: String,
      changes: DataFrame, vecCol: String = "embedding",
      idCol: String = "vec_id", changeCol: String = "change"): Long = {
    val cents = readCentroids(spark, s"$indexDir/centroids")
    val ins = changes.filter(col(changeCol) === "insert")
      .select(col(idCol).as("id"), col(vecCol).as("v"),
        normalized(col(vecCol)).as("nv"))
    Segments.commitBatch(indexDir, changes, idCol) { seq =>
      graft.Engine.label(spark, "ivf upsert: vectors delta")(
        assignNearestC(ins, cents)
          .select(col("id").as(idCol), col("v").as(vecCol), col("bucket"))
          .write.mode("overwrite").partitionBy("bucket")
          .parquet(Segments.deltaDir(s"$indexDir/vectors", seq)))
    }
  }

  /** Partitioned overwrite that stays READABLE at zero rows: Spark's
    * dynamic `partitionBy` writer emits no data file for an empty
    * frame (only `_SUCCESS`), so a later unguarded read of the
    * directory fails schema inference (UNABLE_TO_INFER_SCHEMA) — and
    * at 100 TB some filtered build or compaction of a fully-churned
    * table WILL produce zero rows. When no parquet file landed,
    * append one zero-row file carrying the full schema (the partition
    * column rides along as a data column; with no partition
    * directories present there is nothing for it to conflict with,
    * and readers already accept the column from either source). Base
    * tables only — per-batch DELTA dirs must NOT get the backstop
    * file: an empty batch's root-level file next to a sibling batch's
    * `bucket=`/`shard=` subdirs would give Spark's partition
    * discovery conflicting depths, and the delta readers are already
    * guarded by [[Segments.hasParquetFile]]. */
  private[operators] def writePartitionedBase(df: DataFrame,
      partCol: String, path: String): Unit = {
    df.write.mode("overwrite").partitionBy(partCol).parquet(path)
    if (!Segments.hasParquetFile(path))
      df.limit(0).write.mode("append").parquet(path)
  }

  // --------------------------------------------- build-completion marker
  //
  // Persisted-artifact builds (IVF index, PQ codes, inverted index,
  // layout rewrites) are MULTI-JOB, and their output dirs exist from
  // the first job's commit — so "dir exists" cannot distinguish a
  // finished build from one whose writer died between jobs (or mid-job:
  // an overwrite deletes the old data before the new data commits), and
  // a crashed half-build silently serves missing rows to every later
  // query that trusts the cache. Builders clear the marker before
  // touching the artifact and create it (atomic file create) only after
  // the LAST job landed; cache guards ask [[isBuilt]] instead of
  // File.exists, so a crashed build is simply rebuilt.

  /** Has `artifact` under `dir` been built TO COMPLETION? */
  def isBuilt(dir: String, artifact: String = "index"): Boolean =
    new java.io.File(dir, s"_graft_built_$artifact").exists()

  /** Start-of-REBUILD reset shared by the index builders: clear the
    * completion marker (so a crash mid-rebuild reads as not-built),
    * finish any crashed compaction swap on the base (the rebuild's
    * overwrite needs the base AT its path, not renamed aside), and
    * discard the maintenance overlay — a rebuild is a NEW truth, and
    * leaving the old `_maint`/tombstones/delta state in place would
    * have [[Segments.resolveDeltaTable]] re-applying STALE tombstones
    * and delta rows on top of the fresh base (a delete from the previous
    * generation silently erasing a freshly indexed row). Marker first:
    * every later crash point then reads as an incomplete build.
    * `tables` are the index's maintained tables (one list per index,
    * shared with its compaction). */
  private[operators] def resetForRebuild(indexDir: String,
      artifact: String, tables: Seq[String]): Unit = {
    clearBuilt(indexDir, artifact)
    tables.foreach(t => Segments.recover(s"$indexDir/$t"))
    Segments.dropOverlay(indexDir, tables)
  }

  private[graft] def clearBuilt(dir: String,
      artifact: String = "index"): Unit = {
    new java.io.File(dir, s"_graft_built_$artifact").delete(); ()
  }

  private[graft] def markBuilt(dir: String,
      artifact: String = "index"): Unit = {
    new java.io.File(dir).mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, s"_graft_built_$artifact"),
      Array.emptyByteArray)
    ()
  }

  /** `bucket ∈ buckets` that tolerates an EMPTY probe list (an empty
    * index has no centroids, so no bucket is ever near): `isin()`
    * with zero operands is not a filter Spark accepts. */
  private def bucketIn(buckets: Array[Any]): Column =
    if (buckets.isEmpty) lit(false) else col("bucket").isin(buckets: _*)

  /** Physically reclaim tombstoned rows: rewrite the live vector set
    * as a fresh base (seq resets), clear tombstones and the seq
    * counter. Offline single-writer op, like any compaction.
    *
    * Crash-ordering: the rewrite replaces the base by
    * [[Segments.replace]] (crash windows documented there), and after
    * the swap the maintenance overlay, still on disk, re-applies
    * IDEMPOTENTLY over the compacted base — an id inserted at seq N
    * exists in the base at seq 0 and in its delta at seq N; the
    * tombstone at N kills the base copy and keeps the delta copy, one
    * row either way — until [[Segments.dropOverlay]] removes it. */
  def ivfCompact(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, idCol: String = "vec_id"): Unit = {
    val base = s"$indexDir/vectors"
    Segments.replace(base) { staged =>
      graft.Engine.label(spark, "ivf compact: vectors rewrite")(
        writePartitionedBase(
          Segments.resolveDeltaTable(spark, indexDir, base, idCol),
          "bucket", staged))
    }
    Segments.dropOverlay(indexDir, IvfTables)
  }

  /** Batched IVF probe: ANN top-k for a whole DataFrame of query
    * vectors in ONE distributed plan — the shape a training pipeline
    * actually runs (dedupe a new batch against the corpus, retrieval
    * for millions of prompts), where per-query driver round-trips
    * ([[ivfProbe]]) would be the bottleneck.
    *
    * Plan shape for 100 TB: queries × centroids is a broadcast
    * cross-join (centroids are tiny) reduced to `nprobe` buckets per
    * query by the [[graft.plans.TopKPerGroup]] whole-operator plan
    * (partial heaps, one exchange on qid, no sort); the (qid, bucket)
    * pair set — |queries| × nprobe rows, no vectors — then
    * BROADCAST-joins the bucket-partitioned vector table, whose scan is
    * partition-PRUNED to the union of probed buckets, so the big side
    * never shuffles; per-(query, vector) cosine is a map; final top-k
    * per query is TopKPerGroup again. */
  def ivfProbeBatch(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, queries: DataFrame, k: Int, nprobe: Int = 8,
      qidCol: String = "qid", qvecCol: String = "qvec",
      vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    val qs = queries.select(col(qidCol).as("qid"),
      transform(col(qvecCol), _.cast("double")).as("qv"))
    val cents = Segments.read(spark, s"$indexDir/centroids")
    val probed = graft.plans.TopKPerGroup.topKPerGroup(
      qs.crossJoin(broadcast(cents))
        .select(col("qid"), col("qv"), col("bucket"),
          cosineSimilarity(col("centroid"), col("qv")).as("c")),
      keys = Seq(col("qid")),
      order = Seq(desc("c"), asc("bucket")),
      k = nprobe).select("qid", "qv", "bucket")
    // prune the partitioned vector scan to the union of probed buckets
    // (bounded by 2^planes / nCentroids, so the collect is tiny)
    val buckets = probed.select("bucket").distinct().collect().map(_.get(0))
    val vecs = Segments
      .resolveDeltaTable(spark, indexDir, s"$indexDir/vectors", idCol)
      .filter(bucketIn(buckets))
    val scored = vecs.join(broadcast(probed), Seq("bucket"))
      .select(col("qid"), col(idCol),
        cosineSimilarity(col(vecCol), col("qv")).as("cos"))
    graft.plans.TopKPerGroup.topKPerGroup(scored,
      keys = Seq(col("qid")), order = Seq(desc("cos"), asc(idCol)), k = k)
  }

  // ------------------------------------------------- product quantization

  /** Train a PQ codebook (see [[graft.functions.ProductQuant]]): `m`
    * subspaces × `ksub` centroids over unit-normalized vectors, Lloyd
    * on a deterministic driver-side sample. */
  def pqTrain(embeddings: DataFrame, dim: Int = 64, m: Int = 8,
      ksub: Int = 16, iters: Int = 10, sampleN: Int = 2048,
      vecCol: String = "embedding", idCol: String = "vec_id")
      : graft.functions.ProductQuant.Codebook =
    graft.functions.ProductQuant.train(embeddings, dim, m, ksub, iters,
      sampleN, vecCol, idCol)

  /** Distributed encode pass: every vector → `m`-byte PQ code (one
    * map-only scan — the only time PQ touches the full corpus). The
    * codes table is what a 100 TB pipeline persists and scans at query
    * time: a 64-dim float column compresses 32×, so the ANN scan reads
    * ~3% of the bytes. */
  def pqEncodeTable(embeddings: DataFrame,
      cb: graft.functions.ProductQuant.Codebook,
      vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame =
    embeddings.select(col(idCol),
      graft.functions.ProductQuant.pqEncode(col(vecCol), cb).as("pq_code"))

  /** ADC top-k over a PQ codes table: the query builds its m×ksub
    * lookup table ONCE on the driver (a few KB, shipped as one
    * reference object); each row costs `m` table lookups — no float
    * multiplies, no original vectors. Map + TakeOrderedAndProject. */
  def pqTopK(codes: DataFrame,
      cb: graft.functions.ProductQuant.Codebook, query: Seq[Double],
      k: Int, codeCol: String = "pq_code",
      idCol: String = "vec_id"): DataFrame = {
    val lut = graft.functions.ProductQuant.buildLut(query, cb)
    codes.select(col(idCol),
        graft.functions.ProductQuant.pqAdc(col(codeCol), lut, cb.ksub)
          .as("adc"))
      .orderBy(desc("adc"), asc(idCol))
      .limit(k)
  }

  /** Two-stage PQ search (the standard production shape): ADC over the
    * compressed codes overfetches `k * overfetch` candidates, then ONLY
    * those rows' original vectors are fetched (broadcast semi-join on
    * the id — the full-precision column is read for a few dozen rows,
    * not the corpus) and re-ranked by exact cosine. */
  def pqTopKRerank(embeddings: DataFrame, codes: DataFrame,
      cb: graft.functions.ProductQuant.Codebook, query: Seq[Double],
      k: Int, overfetch: Int = 4, vecCol: String = "embedding",
      idCol: String = "vec_id"): DataFrame = {
    val cand = pqTopK(codes, cb, query, k * overfetch,
      idCol = idCol).select(idCol)
    embeddings.join(broadcast(cand), Seq(idCol))
      .select(col(idCol),
        cosineSimilarity(col(vecCol), lit(query.toArray)).as("cos"))
      .orderBy(desc("cos"), asc(idCol))
      .limit(k)
  }

  /** IVF-PQ: add a bucket-partitioned PQ codes table to a persisted
    * IVF index ([[ivfBuildIndexKMeans]] layout) — the FAISS-style
    * coarse-quantizer + product-code composition. A probe then reads
    * `nprobe/nbuckets` of the data by partition pruning AND only the
    * 8-byte codes of those buckets: two multiplicative reductions
    * before any full-precision vector is touched. */
  def ivfPqBuild(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, cb: graft.functions.ProductQuant.Codebook,
      vecCol: String = "embedding", idCol: String = "vec_id"): Unit = {
    clearBuilt(indexDir, "codes")
    writePartitionedBase(
      Segments.read(spark, Segments.readable(s"$indexDir/vectors"))
        .select(col(idCol), col("bucket"),
          graft.functions.ProductQuant.pqEncode(col(vecCol), cb)
            .as("pq_code")),
      "bucket", s"$indexDir/codes")
    markBuilt(indexDir, "codes")
  }

  /** IVF-PQ probe: centroid top-`nprobe` picks the buckets (tiny table,
    * driver-side), the PRUNED codes scan is ADC-scored and overfetched,
    * and only the winning candidates' full vectors are read back
    * (bucket-pruned scan + broadcast id semi-join) for the exact-cosine
    * rerank. */
  def ivfPqProbe(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, cb: graft.functions.ProductQuant.Codebook,
      query: Seq[Double], k: Int, nprobe: Int = 8, overfetch: Int = 4,
      vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    val q = lit(query.toArray)
    val buckets = nearestBuckets(
      readCentroids(spark, s"$indexDir/centroids"), query, nprobe)
    val lut = graft.functions.ProductQuant.buildLut(query, cb)
    val cand = Segments.read(spark, s"$indexDir/codes")
      .filter(bucketIn(buckets)) // partition-pruned scan
      .select(col(idCol),
        graft.functions.ProductQuant.pqAdc(col("pq_code"), lut, cb.ksub)
          .as("adc"))
      .orderBy(desc("adc"), asc(idCol))
      .limit(k * overfetch)
      .select(idCol)
    Segments.read(spark, Segments.readable(s"$indexDir/vectors"))
      .filter(bucketIn(buckets)) // pruned again
      .join(broadcast(cand), Seq(idCol))
      .select(col(idCol), cosineSimilarity(col(vecCol), q).as("cos"))
      .orderBy(desc("cos"), asc(idCol))
      .limit(k)
  }

  /** Reciprocal Rank Fusion (Cormack, Clarke & Buettcher, SIGIR 2009):
    * fuse any number of ranked retrieval runs — e.g. a BM25 keyword leg
    * and an embedding-similarity leg, the standard "hybrid search"
    * recipe — into one ranking by summing 1/(kConst + rank) per run.
    * Scores are held in 1e-9 integer units via BIGINT division, so the
    * fused ranking is bitwise engine-independent (rank ties cannot
    * drift the way float addition order can). Each run contributes one
    * narrow (id, rank) frame; fusion is a union + one aggregate — at
    * fleet scale runs are top-k lists, so this is dimension-sized work
    * regardless of corpus size. */
  def rrfFuse(runs: Seq[DataFrame], kConst: Int = 60,
      idCol: String = "id", rankCol: String = "rank"): DataFrame = {
    require(runs.nonEmpty, "rrfFuse needs at least one run")
    runs.map(_.select(col(idCol).cast("long").as("id"),
        expr(s"1000000000L div (${kConst}L + CAST($rankCol AS BIGINT))")
          .as("rrf_q")))
      .reduce(_ unionByName _)
      .groupBy("id")
      .agg(sum(col("rrf_q")).as("rrf_q"), count(lit(1)).as("n_runs"))
  }

  /** Convenience build-if-absent + probe (fixture/test path). */
  def ivfTopK(embeddings: DataFrame, query: Seq[Double], k: Int,
      dim: Int = 64, planes: Int = 8, nprobe: Int = 8,
      vecCol: String = "embedding", idCol: String = "vec_id",
      indexDir: String = null): DataFrame = {
    val spark = embeddings.sparkSession
    // no explicit indexDir → fresh temp dir (always rebuild); reuse
    // across probes requires opting in with a stable path
    val dir = Option(indexDir).getOrElse(
      java.nio.file.Files.createTempDirectory("graft_ivf").toString)
    if (!isBuilt(dir))
      ivfBuildIndex(embeddings, dir, dim, planes, vecCol, idCol)
    ivfProbe(spark, dir, query, k, nprobe, vecCol, idCol)
  }
}
