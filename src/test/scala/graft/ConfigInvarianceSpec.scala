package graft

/** Engine-config invariance over the live query catalog.
  *
  * A distributed engine's answers must not depend on HOW the cluster
  * executed them: the same query over the same data has to produce
  * bitwise-identical rows whether expressions ran interpreted or
  * codegen'd, whether a shuffle had 1 reducer or 13, and whether AQE
  * re-planned it or not — otherwise "correct at local[32]" says
  * nothing about the 1000-executor deployment, where partition counts
  * and plan shapes are picked at runtime. The driver's DuckDB oracle
  * pins results under ONE config; this spec pins the equivalence class:
  *
  *   - interpreted: wholeStage off + NO_CODEGEN factory — every custom
  *     Expression in graft.functions must agree with its doGenCode
  *     through the real queries that use it (a per-kernel unit test
  *     can't cover the compositions);
  *   - 1 shuffle partition: all partial/final merges collapse into one
  *     task — catches anything that silently relied on parallelism;
  *   - 13 partitions + AQE off: a prime, co-prime with the local[4]
  *     input split count, reshuffles every hash-distributed merge tree,
  *     and with AQE off none of it is coalesced back;
  *   - twins off: `spark.graft.localTwin.maxRows` = 0 sends every
  *     driver-local twin ([[graft.Engine.boundedLocal]]) down its
  *     distributed path, which must give the same rows.
  *
  * Partition-order traps this is designed to catch: float sums that
  * bypass the DECIMAL-accumulation rule, top-k ties broken by arrival
  * order, sketch merges that are not associative/commutative, salting
  * that leaks the salt into the result.
  *
  * The subset below covers every custom-kernel family in
  * graft.functions plus the partition-sensitive algorithms (salting,
  * skew splits, distributed prefix sums, iterative graph/classifier
  * loops, lattice routing, LSH/IVF/PQ probes). Lifecycle queries that
  * persist multi-job artifacts (index maint, versioned merge) are
  * exercised for rebuild-idempotence in their own suites and skipped
  * here — their probe-side operators all appear via lighter queries.
  */
class ConfigInvarianceSpec extends SparkSuite {

  /** With GRAFT_INVARIANCE_FULL=1 the sweep covers the ENTIRE catalog
    * (all SparkEntry.queries) instead of the curated subset — ~4
    * catalog passes at sf0.001, too slow for the default suite but the
    * right periodic bug hunt (run it after adding a kernel or an
    * operator family). */
  private val fullCatalog: Boolean =
    sys.env.get("GRAFT_INVARIANCE_FULL").contains("1")

  private val curated: Seq[String] = Seq(
    // salting / skew (result must not see the salt)
    "q_salted_agg", "q_salted_null_join", "q_skew_split_join",
    // custom physical operator (top-k quota; tie discipline)
    "q_topk_per_group",
    // dedup kernel family (minhash / simhash / winnow / shingle / k-means)
    "q_dedup_minhash_lsh", "q_dedup_simhash", "q_dedup_winnow",
    "q_dedup_ngram_block", "q_dedup_semantic", "q_dedup_substring",
    // ANN probes (CentroidTopK / ProductQuant / HyperplaneLSH)
    "q_embed_ivf_topk", "q_embed_pq_topk", "q_embed_knn_lsh",
    // exact-distinct bitmaps (TypedImperativeAggregate merge order)
    "q_audience_bitmap", "q_bitmap_cd_rollup",
    // sketches + decimal-accumulated moments
    "q_approx_distinct", "q_moments",
    // distributed BPE (learn = iterative agg; encode = native kernel)
    "q_bpe_learn", "q_bpe_encode",
    // text kernels (token stats, fingerprints, BM25 scoring)
    "q_bm25_topk", "q_text_fingerprint",
    // two-phase distributed prefix sum (explicit partition arithmetic)
    "q_pack_sequences",
    // iterative loops claimed bit-deterministic
    "q_quality_classifier", "q_link_pagerank",
    // driver-local twins not already listed (exact centrality, graph
    // keywords, connected components)
    "q_centrality_gate", "q_textrank_keywords", "q_dedup_cluster",
    "q_dedup_cluster_keep",
    // cuboid-lattice routing (incl. the budget-selected sub-lattice)
    "q_cube_rollup", "q_cube_budget",
    // binary decode via mapPartitions
    "q_multimodal_features",
    // perceptual media dedup (3-container dHash incl. lossy JPEG) and
    // the envelope-hash audio twin — the r12 media family was covered
    // by the full sweep only
    "q_multimodal_phash_dedup", "q_multimodal_audio_dedup")

  private val subset: Seq[String] = {
    val s = if (fullCatalog) SparkEntry.queries.keys.toSeq.sorted else curated
    info(s"invariance sweep over ${s.length} queries " +
      (if (fullCatalog) "(FULL catalog)" else "(curated subset)"))
    s
  }

  private def canon(name: String): Array[String] = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.collect().map(_.toString).sorted
  }

  /** Baseline rows under the default config, computed once (always
    * outside any withSQLConf block — first access happens at the top
    * of the first test). */
  private lazy val baseline: Map[String, Array[String]] = {
    val missing = subset.filterNot(SparkEntry.queries.contains)
    assert(missing.isEmpty, s"unknown queries in subset: $missing")
    subset.map(n => n -> canon(n)).toMap
  }

  private def assertInvariant(label: String, confs: (String, String)*): Unit = {
    baseline // force materialization under default confs
    withSQLConf(confs: _*) {
      for (n <- subset) {
        val got = canon(n)
        val exp = baseline(n)
        assert(got.length == exp.length,
          s"[$label] $n: ${got.length} rows vs baseline ${exp.length}")
        var i = 0
        while (i < got.length) {
          assert(got(i) == exp(i),
            s"[$label] $n: row $i differs\n  perturbed: ${got(i)}\n" +
              s"  baseline:  ${exp(i)}")
          i += 1
        }
      }
    }
  }

  test("results are invariant under interpreted expression evaluation") {
    assertInvariant("interpreted",
      "spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
  }

  test("results are invariant under a single shuffle partition") {
    assertInvariant("1-partition",
      "spark.sql.shuffle.partitions" -> "1")
  }

  test("results are invariant under 13 shuffle partitions with AQE off") {
    assertInvariant("13-noAQE",
      "spark.sql.shuffle.partitions" -> "13",
      "spark.sql.adaptive.enabled" -> "false")
  }

  test("results are invariant with every driver-local twin forced " +
      "distributed") {
    assertInvariant("twins-off", "spark.graft.localTwin.maxRows" -> "0")
  }
}
