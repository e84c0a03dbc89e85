package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Similarity}
import scala.collection.immutable.ListMap

/** Dev-only empirical scale probe for the dedup/ANN family: measures
  * the CANDIDATE-STAGE row counts (the quantity that decides whether an
  * operator survives a 100x scale-up) at each given sf dir, so the
  * subquadraticity claims are measured, not argued. Usage:
  *   runMain graft.ScaleProbe /root/testdata/sf0.001 /root/testdata/sf0.01 ...
  * Prints one JSON line per sf dir plus a growth-exponent summary
  * (exponent = log(count ratio) / log(docs ratio); 1.0 = linear,
  * 2.0 = quadratic). Results land in SCALE.md by hand.
  */
object ScaleProbe {

  private def metrics(spark: SparkSession, d: String): Map[String, Long] = {
    val docs = Engine.table(spark, d, "documents")
    val emb = Engine.table(spark, d, "embeddings")
    val sh = docs.select(col("doc_id").as("id"),
      Dedup.wordShingles(col("text"), 2).as("sh"))

    // MinHash banding: candidate pairs BEFORE dedup/verify, at
    // q_dedup_minhash_lsh's explicit (48, 16) and at the
    // threshold-derived banding the radius>4 simhash blocker uses
    def minhashProbe(numHashes: Int, nBands: Int): (Long, Long) = {
      val bands = Dedup.minHashBands(sh, numHashes, nBands)
      val cand = bands
        .select(col("band"), col("bh"), col("id").as("id_a"))
        .join(bands.select(col("band"), col("bh"), col("id").as("id_b")),
          Seq("band", "bh"))
        .filter(col("id_a") < col("id_b")).count()
      val maxBucket = bands.groupBy("band", "bh").count()
        .agg(max("count")).head().getLong(0)
      (cand, maxBucket)
    }
    val (minhashCand, maxBucket) = minhashProbe(48, 16)
    val (nhT08, nbT08) = Dedup.minHashBandsFor(0.8)
    val (minhashCandT08, _) = minhashProbe(nhT08, nbT08)

    // prefix-filter n-gram blocking (q_dedup_ngram_block), plus the
    // 3-shingle variant — the documented production dial for corpora
    // whose small vocabulary makes bigram prefixes hot
    val base = docs.select(col("source").as("blk"), col("doc_id").as("id"),
      Dedup.wordShingles(col("text"), 2).as("sh"))
    val ngramCand = Dedup.ngramCandidates(base, threshold = 0.5).count()
    val base3 = docs.select(col("source").as("blk"), col("doc_id").as("id"),
      Dedup.wordShingles(col("text"), 3).as("sh"))
    val ngramCand3 = Dedup.ngramCandidates(base3, threshold = 0.5).count()

    // winnow planted corpus (q_dedup_winnow — the query's own
    // construction, shared so the probe can't drift from it)
    val wc = TextQueries.winnowPlantedCorpus(docs)
    val fps = wc.select(col("doc_id").as("id"),
      explode(graft.functions.Winnow.winnow(col("text"), 8, 4)).as("fp"))
    val winnowCand = fps.select(col("fp"), col("id").as("id_a"))
      .join(fps.select(col("fp"), col("id").as("id_b")), Seq("fp"))
      .filter(col("id_a") < col("id_b")).count()

    // embedding LSH multi-probe buckets (q_dedup_embedding /
    // q_embed_knn_lsh shape): bucket-join pairs before dedup
    val probed = (0 until 4).map { p =>
      emb.select(col("vec_id").as("id"),
        Similarity.hyperplaneSignature(col("embedding"), 64, 12,
          seed = 42L + p).as("bucket"))
        .withColumn("probe", lit(p))
    }.reduce(_ unionByName _)
    val lshCand = probed
      .select(col("probe"), col("bucket"), col("id").as("id_a"))
      .join(probed.select(col("probe"), col("bucket"),
        col("id").as("id_b")), Seq("probe", "bucket"))
      .filter(col("id_a") < col("id_b")).count()

    // semanticDedup within-bucket pair work at the derived k and the
    // query's fixed k=16 (sum over buckets of size*(size-1)/2)
    def semPairs(nClusters: Int): Long = {
      val vecs = emb.select(col("vec_id").as("id"),
        Similarity.normalized(col("embedding")).as("nv"))
      val k =
        if (nClusters > 0) nClusters
        else Dedup.derivedClusterCount(vecs.count())
      val centroids = Similarity.kmeansCentroids(vecs, k, iters = 3)
      val assigned = Dedup.resplitOversized(
        Similarity.assignNearestK(vecs, centroids, 2), 4096, 64)
      val out = assigned.groupBy("bucket").count()
        .agg(sum((col("count") * (col("count") - 1) / 2).cast("long")))
        .head().getLong(0)
      centroids.unpersist()
      out
    }
    val semCand16 = semPairs(16)

    // BPE learn's working set: every merge iteration runs on the
    // word-frequency table, so ITS row count (not the corpus) is the
    // iteration cost — vocabulary growth is the sublinear Heaps'-law
    // curve, the reason 100 TB and 10 GB learn on similar tables
    val bpeVocab = operators.Bpe.wordCounts(docs).count()

    // ---- round-12 family probes (r11 verdict item 5) ----
    val events = Engine.table(spark, d, "events")
    val nEvents = events.count()

    // funnel: the per-user collected in-funnel array is windowFunnel's
    // only unbounded quantity — its MAX is the task-memory bound, the
    // total is the single shuffle's row count
    val funnelSteps = Seq("view", "click", "purchase")
    val perUser = events
      .filter(col("event_type").isin(funnelSteps: _*))
      .groupBy("user_id").agg(count(lit(1)).as("c"))
    val funnelMaxUser = perUser.agg(max("c")).head().getLong(0)
    val funnelRows = perUser.agg(sum("c")).head().getLong(0)

    // PageRank on the conformance link graph: per-iteration join work
    // is bounded by max (src, salt) shard size (out-degree skew, salted
    // at prep) and the mass aggregate's map-side combine handles
    // in-degree skew — so max in-degree is reported, not feared
    val cust = Engine.table(spark, d, "customer")
    val edges = operators.Graph.plantedLinkGraph(cust).localCheckpoint()
    val nEdges = edges.count()
    val pr = operators.Graph.prep(edges, "src", "dst", 65536L)
    val shardKeys = if (pr.salted) Seq("src", "salt") else Seq("src")
    val prMaxShard = pr.weighted
      .groupBy(shardKeys.map(col): _*).count()
      .agg(max("count")).head().getLong(0)
    val prMaxInDeg = edges.groupBy("dst").count()
      .agg(max("count")).head().getLong(0)
    val prIters = operators.Graph.pageRankConverged(edges, tol = 1e-4)._2

    // cuboid lattice: the fact is scanned once for the base cuboid;
    // every other build/maintenance step is bounded by these summary
    // row counts (base first, then the whole lattice)
    val li = Engine.table(spark, d, "lineitem")
    val nFact = li.count()
    val cubeBase = li.groupBy("l_returnflag", "l_linestatus",
        "l_shipdate", "l_suppkey")
      .agg(count(lit(1))).count()
    val cubeBase3 = li.groupBy("l_returnflag", "l_linestatus",
        "l_shipdate").agg(count(lit(1))).count()

    // inverted index: postings rows (the build shuffle + index size),
    // vocabulary (shard fan-out), max document frequency (the hottest
    // posting list = the worst single probe's row count)
    val postings = docs.select(col("doc_id"),
        explode(graft.functions.wordTokens(col("text"))).as("token"))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    val postRows = postings.count()
    val vocab = postings.select("token").distinct().count()
    val maxDf = postings.groupBy("token").count()
      .agg(max("count")).head().getLong(0)

    Map(
      "n_docs" -> docs.count(),
      "n_vecs" -> emb.count(),
      "n_events" -> nEvents,
      "n_edges" -> nEdges,
      "n_fact" -> nFact,
      "funnel_rows" -> funnelRows,
      "funnel_max_user" -> funnelMaxUser,
      "pagerank_max_shard" -> prMaxShard,
      "pagerank_max_indeg" -> prMaxInDeg,
      "pagerank_iters" -> prIters.toLong,
      "cube_base_rows" -> cubeBase,
      "cube_base3_rows" -> cubeBase3,
      "index_postings" -> postRows,
      "index_vocab" -> vocab,
      "index_max_df" -> maxDf,
      "bpe_vocab" -> bpeVocab,
      "minhash_cand" -> minhashCand,
      "minhash_cand_t08" -> minhashCandT08,
      "minhash_max_bucket" -> maxBucket,
      "ngram_cand" -> ngramCand,
      "ngram_cand_sh3" -> ngramCand3,
      "winnow_cand" -> winnowCand,
      "embed_lsh_cand" -> lshCand,
      "semantic_cand_k16" -> semCand16)
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: ScaleProbe <sfDir> [<sfDir> ...]")
    val spark = Harness.session(32)
    val rows = args.toSeq.map { d => d -> metrics(spark, d) }
    rows.foreach { case (d, m) =>
      println("SCALE " + Json.write(ListMap("sf" -> d) ++ m.toSeq.sortBy(_._1)))
    }
    // growth exponents between consecutive sf dirs; each metric is
    // normalized by ITS input's growth (embedding metrics by n_vecs,
    // text metrics by n_docs) — 1.0 = linear, 2.0 = quadratic
    rows.sliding(2).foreach {
      case Seq((d1, m1), (d2, m2)) =>
        def base(k: String): String =
          if (k.startsWith("embed_") || k.startsWith("semantic_")) "n_vecs"
          else if (k.startsWith("funnel_")) "n_events"
          else if (k.startsWith("pagerank_")) "n_edges"
          else if (k.startsWith("cube_")) "n_fact"
          else "n_docs"
        val denoms = Set("n_docs", "n_vecs", "n_events", "n_edges", "n_fact")
        val exps = m1.keys.filterNot(denoms).toSeq.sorted
          .map { k =>
            val nr = m2(base(k)).toDouble / m1(base(k))
            val e =
              if (m1(k) <= 0 || m2(k) <= 0 || nr <= 1.0) Double.NaN
              else math.log(m2(k).toDouble / m1(k)) / math.log(nr)
            k -> Json.num(e, 2)
          }
        println("SCALE_EXP " + Json.write(
          ListMap("from" -> d1, "to" -> d2) ++ exps))
      case _ =>
    }
    spark.stop()
  }
}
