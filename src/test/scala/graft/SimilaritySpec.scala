package graft

import org.apache.spark.sql.functions._
import graft.functions._
import graft.operators.Similarity

/** ANN operators: brute force is ground truth; LSH/IVF recall is pinned
  * against it. */
class SimilaritySpec extends SparkSuite {

  private lazy val emb = Engine.table(spark, sf, "embeddings")

  private lazy val queryVec: Seq[Double] = {
    val row = emb.filter(col("vec_id") === 7).head()
    row.getSeq[Float](row.fieldIndex("embedding")).map(_.toDouble).toSeq
  }

  test("bruteForceTopK: self is rank 1 with cos ~ 1") {
    val top = Similarity.bruteForceTopK(emb, queryVec, k = 5).collect()
    assert(top.head.getLong(0) == 7L)
    assert(math.abs(top.head.getDouble(1) - 1.0) < 1e-9)
    val scores = top.map(_.getDouble(1))
    assert(scores.sameElements(scores.sorted.reverse), "not sorted desc")
  }

  /** Planted clustered fixture: 10 tight clusters of 20 vectors — the
    * testdata embeddings are isotropic-random (no cosine structure), so
    * approximate-index recall is only meaningful on clustered data. */
  private lazy val clustered = {
    import spark.implicits._
    val rng = new scala.util.Random(7)
    val centers = Array.fill(10, 64)(rng.nextGaussian())
    (0 until 200).map { i =>
      val c = centers(i % 10)
      val v = c.map(x => (x + rng.nextGaussian() * 0.05).toFloat)
      (i.toLong, v, i % 10)
    }.toDF("vec_id", "embedding", "label")
  }

  test("ivfTopK recall@10 >= 0.8 vs brute force on clustered data") {
    val row = clustered.filter(col("vec_id") === 0).head()
    val q = row.getSeq[Float](1).map(_.toDouble).toSeq
    val truth = Similarity.bruteForceTopK(clustered, q, k = 10)
      .collect().map(_.getLong(0)).toSet
    val approx = Similarity.ivfTopK(clustered, q, k = 10,
        planes = 6, nprobe = 8)
      .collect().map(_.getLong(0)).toSet
    val recall = (truth & approx).size.toDouble / truth.size
    assert(recall >= 0.8, s"IVF recall $recall too low")
  }

  test("k-means IVF recall@10 >= 0.9 and prunes the probe scan") {
    val dir = tmpDir("ivf_kmeans")
    Similarity.ivfBuildIndexKMeans(clustered, dir, nCentroids = 10,
      iters = 3)
    val row = clustered.filter(col("vec_id") === 0).head()
    val q = row.getSeq[Float](1).map(_.toDouble).toSeq
    val truth = Similarity.bruteForceTopK(clustered, q, k = 10)
      .collect().map(_.getLong(0)).toSet
    val approx = Similarity.ivfProbe(spark, dir, q, k = 10, nprobe = 3)
      .collect().map(_.getLong(0)).toSet
    val recall = (truth & approx).size.toDouble / truth.size
    assert(recall >= 0.9, s"k-means IVF recall $recall too low")
  }

  test("ivfUpsert: inserts land, deletes tombstone, updates supersede; " +
      "compaction reclaims; never-maintained path untouched") {
    import spark.implicits._
    val dir = tmpDir("ivf_maint")
    Similarity.ivfBuildIndexKMeans(clustered, dir, nCentroids = 10,
      iters = 3)
    val row = clustered.filter(col("vec_id") === 0).head()
    val qArr = row.getSeq[Float](1)
    val q = qArr.map(_.toDouble).toSeq
    def probeIds() = Similarity.ivfProbe(spark, dir, q, k = 5,
      nprobe = 10).collect().map(_.getLong(0)).toSet

    val before = probeIds()
    assert(before.contains(0L))
    // batch 1: insert a vector nearly identical to the query (id 900),
    // delete vec 0's nearest clustermate (id 10), update id 20 to live
    // exactly on the query point (CDC delete+insert pair)
    val changes = Seq(
      (900L, qArr, "insert"),
      (10L, qArr, "delete"),
      (20L, qArr, "delete"),
      (20L, qArr, "insert"))
      .toDF("vec_id", "embedding", "change")
    Similarity.ivfUpsert(spark, dir, changes)
    // crash-retry: rewind the commit point (maintainer died after the
    // batch dirs landed, before the counter write) and re-deliver the
    // same batch — the overwrite-idempotent delta layout must leave NO
    // duplicate ids in the live set (the old append layout doubled
    // every inserted row at the same seq here)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/_maint/seq"), "0".getBytes("UTF-8"))
    // read-committed while crashed: the partial batch sits on disk but
    // the counter says nothing committed — probes must not see it
    assert(!probeIds().contains(900L),
      "uncommitted batch visible to a probe")
    Similarity.ivfUpsert(spark, dir, changes)
    val wide = Similarity.ivfProbe(spark, dir, q, k = 1000, nprobe = 10)
      .collect().map(_.getLong(0))
    assert(wide.length == wide.distinct.length,
      s"duplicate ids in live set after crash-retry: " +
        s"${wide.diff(wide.distinct).toSeq}")
    val after = probeIds()
    assert(after.contains(900L), s"inserted vector must be findable: $after")
    assert(after.contains(20L), s"updated vector must rank top: $after")
    assert(!after.contains(10L), "deleted vector must be gone")
    // maintained result equals brute force over the LIVE set
    val live = clustered.filter(!col("vec_id").isin(10L, 20L))
      .unionByName(Seq((900L, qArr, 0), (20L, qArr, 0))
        .toDF("vec_id", "embedding", "label"))
    val truth = Similarity.bruteForceTopK(live, q, k = 5)
      .collect().map(_.getLong(0)).toSet
    assert(after == truth, s"maintained=$after truth=$truth")
    // delete-only follow-up batch
    Similarity.ivfUpsert(spark, dir,
      Seq((900L, qArr, "delete")).toDF("vec_id", "embedding", "change"))
    assert(!probeIds().contains(900L))
    // compaction: same answers, tombstones physically gone
    val preCompact = probeIds()
    Similarity.ivfCompact(spark, dir)
    assert(probeIds() == preCompact)
    assert(!new java.io.File(s"$dir/tombstones").exists())
    assert(!new java.io.File(s"$dir/_maint").exists())
    // batched probe agrees with the single probe on the live set
    val batch = Similarity.ivfProbeBatch(spark, dir,
      Seq((0L, qArr)).toDF("qid", "qvec"), k = 5, nprobe = 10)
      .collect().map(_.getLong(1)).toSet
    assert(batch == preCompact)
  }

  test("ivfProbeBatch: one distributed plan answers a whole query batch " +
      "with per-query recall >= 0.8") {
    import spark.implicits._
    val dir = tmpDir("ivf_batch")
    Similarity.ivfBuildIndexKMeans(clustered, dir, nCentroids = 10,
      iters = 3)
    val qids = Seq(0L, 1L, 2L, 3L, 4L)
    val queries = clustered.filter(col("vec_id").isin(qids: _*))
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val got = Similarity.ivfProbeBatch(spark, dir, queries,
        k = 10, nprobe = 3)
      .collect().groupBy(_.getLong(0))
      .map { case (q, rows) => q -> rows.map(_.getLong(1)).toSet }
    assert(got.keySet == qids.toSet, s"every query answered: ${got.keySet}")
    qids.foreach { qid =>
      val row = clustered.filter(col("vec_id") === qid).head()
      val qv = row.getSeq[Float](1).map(_.toDouble).toSeq
      val truth = Similarity.bruteForceTopK(clustered, qv, k = 10)
        .collect().map(_.getLong(0)).toSet
      val recall = (truth & got(qid)).size.toDouble / truth.size
      assert(recall >= 0.8, s"qid=$qid recall $recall too low")
      assert(got(qid).size == 10)
    }
  }

  test("lshKnnJoin finds same-cluster neighbors on clustered data") {
    val knn = Similarity.lshKnnJoin(clustered, k = 3, planes = 8, probes = 2)
    val labels = clustered.select(col("vec_id"), col("label"))
    val joined = knn
      .join(labels.withColumnRenamed("vec_id", "id_a")
        .withColumnRenamed("label", "label_a"), Seq("id_a"))
      .join(labels.withColumnRenamed("vec_id", "id_b")
        .withColumnRenamed("label", "label_b"), Seq("id_b"))
    val agree = joined.filter(col("label_a") === col("label_b")).count()
    val total = joined.count()
    assert(total > 0)
    assert(agree.toDouble / total > 0.9,
      s"label agreement ${agree.toDouble / total}; chance is 0.1")
  }

  test("bucketMatePairs occupancy cap bounds a hot bucket's pair " +
      "blow-up; near-identical mates survive the split") {
    import spark.implicits._
    val rng = new scala.util.Random(19)
    val n = 1000
    // one pathological (probe, bucket) group holding the WHOLE corpus —
    // the shape an undersized `planes` produces (the r12 100x knn probe
    // OOMed on exactly this, at planes=10 over 200k vectors). sub = a
    // real 16-plane signature: isotropic rows split ~uniformly, the
    // planted near-identical pair (ids 0/1) keeps equal bits.
    val vecs = {
      val base = Array.fill(64)(rng.nextGaussian().toFloat)
      (0 until n).map { i =>
        val v = if (i <= 1) base.map(_ + i * 1e-4f)
                else Array.fill(64)(rng.nextGaussian().toFloat)
        (i.toLong, v)
      }.toDF("id", "embedding")
    }
    val probed = vecs.select(col("id"), lit(0L).as("bucket"),
        Similarity.hyperplaneSignature(col("embedding"), 64, 16,
          seed = 9000L).as("sub"))
      .withColumn("probe", lit(0))
    val capped = Similarity.bucketMatePairs(probed, ordered = false,
      cap = 16)
    val cnt = capped.count()
    // uncapped = n(n-1)/2 = 499,500; cap folds ceil(log2(1000/16)) = 6
    // sub bits -> 64 groups of ~16 -> ~8k expected pairs
    assert(cnt < 40000, s"cap did not bound pair count: $cnt")
    assert(cnt > 0)
    assert(capped.filter(col("id_a") === 0 && col("id_b") === 1)
      .count() == 1, "near-identical pair must survive the sub-split")
  }

  test("occupancy cap is inert when no bucket exceeds it") {
    val probed = clustered.select(col("vec_id").as("id"),
        Similarity.hyperplaneSignature(col("embedding"), 64, 8,
          seed = 42L).as("bucket"),
        Similarity.hyperplaneSignature(col("embedding"), 64, 16,
          seed = 9000L).as("sub"))
      .withColumn("probe", lit(0))
    val unguarded = Similarity.bucketMatePairs(
      probed.drop("sub"), ordered = true)
    val guarded = Similarity.bucketMatePairs(probed, ordered = true,
      cap = 100000)
    assert(guarded.count() == unguarded.count())
    assert(guarded.exceptAll(unguarded).count() == 0)
    assert(unguarded.exceptAll(guarded).count() == 0)
  }

  test("lshKnnJoin with undersized planes stays cluster-faithful " +
      "under the occupancy guard") {
    // planes=2 -> 4 primary buckets for 200 vectors (occupancy ~50,
    // far over maxBucket=16): the guard must engage, and the tight
    // clusters (tiny pairwise angle -> equal sub bits) must still
    // dominate each vector's neighbor list
    val knn = Similarity.lshKnnJoin(clustered, k = 3, planes = 2,
      probes = 2, maxBucket = 16)
    val labels = clustered.select(col("vec_id"), col("label"))
    val joined = knn
      .join(labels.withColumnRenamed("vec_id", "id_a")
        .withColumnRenamed("label", "label_a"), Seq("id_a"))
      .join(labels.withColumnRenamed("vec_id", "id_b")
        .withColumnRenamed("label", "label_b"), Seq("id_b"))
    val agree = joined.filter(col("label_a") === col("label_b")).count()
    val total = joined.count()
    assert(total > 0)
    assert(agree.toDouble / total > 0.8,
      s"label agreement ${agree.toDouble / total}; chance is 0.1")
  }

  test("planesFor keeps background LSH buckets O(1): rule values, " +
      "clamps, and an empirical bucket-size check on random vectors") {
    import spark.implicits._
    // the 2*log2(n) rule, clamped to [8, 48]
    assert(Similarity.planesFor(1) == 8)
    assert(Similarity.planesFor(100) == 14)
    assert(Similarity.planesFor(4096) == 24)
    assert(Similarity.planesFor(1L << 30) == 48)
    assert(Similarity.planesFor(Long.MaxValue / 2) == 48)
    intercept[IllegalArgumentException](Similarity.planesFor(0))
    // empirical: on UNRELATED (isotropic-random) vectors, planesFor(n)
    // keeps every bucket tiny — the property SCALE.md measures as the
    // "background candidates ~ n^2 / 2^planes" term
    val rng = new scala.util.Random(11)
    val n = 2000
    val rand = (0 until n).map { i =>
      (i.toLong, Array.fill(64)(rng.nextGaussian().toFloat))
    }.toDF("vec_id", "embedding")
    val maxBucket = rand
      .select(Similarity.hyperplaneSignature(col("embedding"), 64,
        Similarity.planesFor(n)).as("b"))
      .groupBy("b").count().agg(max("count")).head().getLong(0)
    assert(maxBucket <= 4,
      s"background bucket must stay O(1), got max $maxBucket")
  }

  test("hyperplane signature stays codegen-compact at dim=1024") {
    import spark.implicits._
    val rng = new scala.util.Random(11)
    val big = (0 until 50).map { i =>
      (i.toLong, Array.fill(1024)(rng.nextGaussian().toFloat))
    }.toDF("vec_id", "embedding")
    // the old unrolled form emitted planes*dim expression terms and blew
    // the codegen method limit around this dimension; the native
    // Expression is O(1) in dim — this must run, and deterministically
    val sig = big.select(col("vec_id"),
      Similarity.hyperplaneSignature(col("embedding"), 1024, 16).as("s"))
    val once = sig.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val again = sig.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(once == again)
    assert(once.values.toSet.size > 1, "signatures must discriminate")
    // and a full knn-join at dim=1024 completes
    val knn = Similarity.lshKnnJoin(big, k = 3, dim = 1024,
      planes = 8, probes = 2)
    assert(knn.count() > 0)
  }

  test("PQ: codes are m bytes; ADC+rerank recall@10 >= 0.9 vs brute " +
      "force on clustered data") {
    val cb = Similarity.pqTrain(clustered, dim = 64, m = 8, ksub = 16,
      sampleN = 200)
    val codes = Similarity.pqEncodeTable(clustered, cb)
    // 32x compression: 64 floats (256 B) -> 8 bytes
    assert(codes.select(max(length(col("pq_code")))).head().getInt(0) == 8)
    val row = clustered.filter(col("vec_id") === 0).head()
    val q = row.getSeq[Float](1).map(_.toDouble).toSeq
    val truth = Similarity.bruteForceTopK(clustered, q, k = 10)
      .collect().map(_.getLong(0)).toSet
    val reranked = Similarity.pqTopKRerank(clustered, codes, cb, q, k = 10)
      .collect().map(_.getLong(0)).toSet
    val recall = (truth & reranked).size.toDouble / truth.size
    assert(recall >= 0.9, s"PQ rerank recall $recall too low")
    // ADC alone must already put most of the true neighborhood in the
    // overfetch window (that is what makes rerank cheap)
    val adcOnly = Similarity.pqTopK(codes, cb, q, k = 40)
      .collect().map(_.getLong(0)).toSet
    val adcRecall = (truth & adcOnly).size.toDouble / truth.size
    assert(adcRecall >= 0.8, s"ADC overfetch recall $adcRecall too low")
  }

  test("IVF-PQ: pruned ADC probe + rerank recall@10 >= 0.8 on " +
      "clustered data") {
    val dir = tmpDir("ivfpq")
    Similarity.ivfBuildIndexKMeans(clustered, dir, nCentroids = 10,
      iters = 3)
    val cb = Similarity.pqTrain(clustered, sampleN = 200)
    Similarity.ivfPqBuild(spark, dir, cb)
    val row = clustered.filter(col("vec_id") === 0).head()
    val q = row.getSeq[Float](1).map(_.toDouble).toSeq
    val truth = Similarity.bruteForceTopK(clustered, q, k = 10)
      .collect().map(_.getLong(0)).toSet
    val got = Similarity.ivfPqProbe(spark, dir, cb, q, k = 10, nprobe = 3)
      .collect().map(_.getLong(0)).toSet
    val recall = (truth & got).size.toDouble / truth.size
    assert(recall >= 0.8, s"IVF-PQ recall $recall too low")
  }

  test("PQ: training and encoding are deterministic") {
    val cb1 = Similarity.pqTrain(clustered, sampleN = 200)
    val cb2 = Similarity.pqTrain(clustered, sampleN = 200)
    assert(cb1.cells.sameElements(cb2.cells))
    val c1 = Similarity.pqEncodeTable(clustered, cb1).collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]](1).toSeq).toMap
    val c2 = Similarity.pqEncodeTable(clustered, cb2).collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]](1).toSeq).toMap
    assert(c1 == c2)
  }

  test("semanticDedup: planted near-identical vectors dropped, " +
      "originals kept") {
    import spark.implicits._
    val planted = clustered.filter(col("vec_id") < 20)
      .select((col("vec_id") + 1000).as("vec_id"),
        transform(col("embedding"), x => x + lit(0.003f)).as("embedding"),
        col("label"))
    // threshold above same-cluster originals (cos ~ 0.9975 at noise
    // 0.05) but below the planted copies (cos ~ 0.999995)
    val kept = graft.operators.Dedup.semanticDedup(
        clustered.unionByName(planted), nClusters = 10, threshold = 0.9995)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    // every original survives (keep-first: originals have the lower id)
    assert((0L until 200L).forall(kept.contains), "an original was dropped")
    // every planted copy is semantically identical to its original
    val survivors = kept.filter(_ >= 1000L)
    assert(survivors.isEmpty,
      s"planted near-dups survived: ${survivors.toSeq.sorted.take(5)}")
  }

  test("vectorSim: codegen and interpreted agree; nulls and length " +
      "mismatch yield null") {
    import spark.implicits._
    val df = Seq(
      (1L, Array(1.0f, 2.0f, 3.0f), Array(4.0f, 5.0f, 6.0f)),
      (2L, Array(0.0f, 0.0f, 0.0f), Array(1.0f, 1.0f, 1.0f))
    ).toDF("id", "a", "b")
    val r = df.select(col("id"),
        dotProduct(col("a"), col("b")).as("dot"),
        cosineSimilarity(col("a"), col("b")).as("cos"))
      .orderBy("id").collect()
    assert(math.abs(r(0).getDouble(1) - 32.0) < 1e-12)
    val expCos = 32.0 / (math.sqrt(14.0) * math.sqrt(77.0))
    assert(math.abs(r(0).getDouble(2) - expCos) < 1e-12)
    assert(r(1).getDouble(2) == 0.0) // zero vector -> 0, not NaN
    val mism = Seq((1L, Array(1.0f, 2.0f), Array(1.0f, 2.0f, 3.0f)))
      .toDF("id", "a", "b")
      .select(cosineSimilarity(col("a"), col("b")).as("c")).head()
    assert(mism.isNullAt(0), "length mismatch must yield null")
  }

  test("quantizedCosine matches double cosine within quantization error") {
    val two = emb.filter(col("vec_id").isin(3, 4))
      .agg(collect_list(col("embedding")).as("vs"))
      .select(element_at(col("vs"), 1).as("a"), element_at(col("vs"), 2).as("b"))
    val got = two.select(
      quantizedCosine(col("a"), col("b")).as("q"),
      cosineSimilarity(col("a"), col("b")).as("c")).head()
    assert(math.abs(got.getDouble(0) - got.getDouble(1)) < 1e-3)
  }

  test("kmeans-IVF recall laws on the real corpus: monotone in nprobe, " +
      "exhaustive probe equals brute force") {
    import org.apache.spark.sql.functions._
    val emb = Engine.table(spark, sf, "embeddings")
    val dir = tmpDir("recall_idx")
    Similarity.ivfBuildIndexKMeans(emb, dir)
    val queries = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val brute = graft.plans.TopKPerGroup.topKPerGroup(
        queries.crossJoin(emb.select(col("vec_id"),
            col("embedding").as("cv")))
          .select(col("qid"), col("vec_id"),
            graft.functions.VectorSim.cosine(col("cv"),
              col("qvec")).as("cos")),
        keys = Seq(col("qid")), order = Seq(desc("cos"), asc("vec_id")),
        k = 10).collect().groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    def recall(np: Int): Double = {
      val ivf = Similarity.ivfProbeBatch(spark, dir, queries, k = 10,
          nprobe = np)
        .select(col("qid"), col("vec_id")).collect()
        .groupBy(_.getLong(0))
        .map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
      val r = ivf.map { case (q, s) => s.intersect(brute(q)).size / 10.0 }
      r.sum / r.size
    }
    val curve = Seq(2, 8, 32).map(np => np -> recall(np))
    // monotone in nprobe
    assert(curve.sliding(2).forall {
      case Seq((_, a), (_, b)) => a <= b + 1e-9
      case _ => true
    }, curve.toString)
    // probing every bucket IS brute force — exactly
    assert(curve.last._2 == 1.0, curve.toString)
    // the near-uniform synthetic corpus is IVF's worst case; even so,
    // a quarter of the buckets must recover a solid majority
    assert(curve(1)._2 >= 0.5, curve.toString)
  }

  /** The (id, nv) unit-vector training frame both k-means paths see. */
  private lazy val kmeansTrain = clustered.select(col("vec_id").as("id"),
    Similarity.normalized(col("embedding")).as("nv"))

  test("distributed Lloyd path == local path on the planted clusters") {
    // a local-twin bound of 0 forces the distributed loop on the same
    // 200 vectors the local loop trains on; identical init (smallest
    // id-hash) and identical skip rules mean the centroid SETS must
    // agree to summation-order tolerance
    val local = Similarity.kmeansCentroids(kmeansTrain, 10, 3)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val dist = withSQLConf("spark.graft.localTwin.maxRows" -> "0") {
      Similarity.kmeansCentroids(kmeansTrain, 10, 3)
        .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    }
    assert(dist.keySet == local.keySet,
      s"bucket sets diverge: ${dist.keySet} vs ${local.keySet}")
    dist.foreach { case (b, v) =>
      val lv = local(b)
      assert(v.length == lv.length)
      v.zip(lv).foreach { case (a, c) =>
        assert(math.abs(a - c) < 1e-9, s"bucket $b centroid diverges")
      }
    }
  }

  test("distributed Lloyd iteration plan: one typed aggregate, " +
      "no posexplode, no per-dimension rows") {
    val cents = Array.tabulate(4)(i =>
      (i.toLong, Array.tabulate(64)(j => if (j == i) 1.0 else 0.0)))
    val bc = spark.sparkContext.broadcast(
      graft.functions.CentroidTopK.centroids(cents))
    val frame = Similarity.meansFrame(kmeansTrain, bc, 64)
    val plan = frame.queryExecution.executedPlan.toString
    assert(!plan.contains("Generate"),
      s"mean update must not explode vectors into rows:\n$plan")
    assert(plan.contains("vec_sum_count"),
      s"expected the VecSumCountAgg aggregate:\n$plan")
    // and it computes the right thing: sums/n == per-bucket mean
    val viaAgg = frame.collect().map { r =>
      val n = r.getLong(2)
      r.getLong(0) -> r.getSeq[Double](1).map(_ / n)
    }.toMap
    val naive = kmeansTrain
      .withColumn("bucket", element_at(
        graft.functions.CentroidTopK.centroidTopK(bc, col("nv"), 1), 1))
      .select(col("bucket"), posexplode(col("nv")))
      .groupBy("bucket", "pos").agg(avg("col").as("m"))
      .collect().groupBy(_.getLong(0)).map { case (b, rows) =>
        b -> rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq
      }
    assert(viaAgg.keySet == naive.keySet)
    viaAgg.foreach { case (b, v) =>
      v.zip(naive(b)).foreach { case (a, c) =>
        assert(math.abs(a - c) < 1e-9, s"bucket $b mean diverges")
      }
    }
  }

  test("vec_sum_count skips wrong-dim and NaN vectors, counts the rest") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq[java.lang.Double](1.0, 2.0)),
      (1L, Seq[java.lang.Double](3.0, 4.0)),
      (1L, Seq[java.lang.Double](Double.NaN, 1.0)), // skipped: NaN
      (1L, Seq[java.lang.Double](1.0, 2.0, 3.0)),   // skipped: wrong dim
      (1L, Seq[java.lang.Double](null, 7.0)),       // skipped: null slot
      (2L, Seq[java.lang.Double](5.0, 6.0))).toDF("b", "v")
    val out = df.groupBy("b")
      .agg(graft.functions.VecSumCountAgg.vecSumCount(col("v"), 2).as("sc"))
      .select(col("b"), col("sc.sums"), col("sc.n"))
      .collect().map(r => r.getLong(0) ->
        ((r.getSeq[Double](1), r.getLong(2)))).toMap
    assert(out(1L) == ((Seq(4.0, 6.0), 2L)), out(1L).toString)
    assert(out(2L) == ((Seq(5.0, 6.0), 1L)), out(2L).toString)
  }

  test("rrfFuse: integer-quantized reciprocal rank fusion") {
    import spark.implicits._
    val run1 = Seq((1L, 1), (2L, 2)).toDF("id", "rank")
    val run2 = Seq((2L, 1), (3L, 2)).toDF("id", "rank")
    val out = Similarity.rrfFuse(Seq(run1, run2), kConst = 60)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    val s1 = 1000000000L / 61L // rank 1
    val s2 = 1000000000L / 62L // rank 2
    assert(out(1L) == ((s1, 1L)))
    assert(out(2L) == ((s2 + s1, 2L)), "both-runs id sums both legs")
    assert(out(3L) == ((s2, 1L)))
    // the both-runs id outranks either single-run id
    assert(out(2L)._1 > out(1L)._1 && out(2L)._1 > out(3L)._1)
  }
}
