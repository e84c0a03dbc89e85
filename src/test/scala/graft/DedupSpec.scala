package graft

import org.apache.spark.sql.functions._
import graft.operators.Dedup

/** Dedup operators on planted fixtures: exact copies, near-duplicates
  * with known overlap, and unrelated text. */
class DedupSpec extends SparkSuite {
  import spark.implicits._

  private val base =
    "the quick brown fox jumps over the lazy dog near the river bank today"
  private val near = // one word changed
    "the quick brown fox jumps over the lazy cat near the river bank today"
  private val other =
    "spark executes distributed dataframe plans with catalyst and tungsten"

  private lazy val docs = Seq(
    (0L, base, "s0"), (1L, base, "s0"),       // exact dup pair
    (2L, near, "s0"),                          // near dup of 0/1
    (3L, other, "s0"), (4L, "completely unrelated words here", "s1"))
    .toDF("doc_id", "text", "source")

  test("exactDedup keeps min-id row per identical text") {
    val kept = Dedup.exactDedup(docs).select("doc_id")
      .collect().map(_.getLong(0)).sorted
    assert(kept.sameElements(Array(0L, 2L, 3L, 4L)))
  }

  test("exactDupGroups reports copy counts") {
    val g = Dedup.exactDupGroups(docs)
      .filter(col("n_copies") > 1).collect()
    assert(g.length == 1 && g(0).getAs[Long]("n_copies") == 2
      && g(0).getAs[Long]("keep_id") == 0)
  }

  test("minHashLshPairs finds exact and near dups, not unrelated") {
    val pairs = Dedup.minHashLshPairs(docs, numHashes = 32, bands = 16,
        threshold = 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    assert(pairs.contains((0L, 1L)), "exact pair missed")
    assert(pairs.contains((0L, 2L)) && pairs.contains((1L, 2L)),
      "near pair missed")
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L),
      "unrelated doc matched")
  }

  test("dedupAgainstCorpus: batch survivors exclude exact copies, " +
      "near-dups of the corpus, and batch-internal twins") {
    val corpus = Seq((0L, base, "s0"), (3L, other, "s0"))
      .toDF("doc_id", "text", "source")
    val batch = Seq(
      (10L, base, "s1"),   // exact copy of corpus 0 -> dropped
      (11L, near, "s1"),   // near-dup of corpus 0 (bigram j = 11/15) -> dropped
      (12L, "a fresh unrelated document about streaming windows", "s1"),
      (13L, "a fresh unrelated document about streaming windows", "s1"),
      (14L, "entirely new content with no corpus overlap at all", "s1"))
      .toDF("doc_id", "text", "source")
    val kept = Dedup.dedupAgainstCorpus(corpus, batch, threshold = 0.7)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    // 12 survives its twin 13 (keep-first); 14 is novel
    assert(kept.sameElements(Array(12L, 14L)), kept.mkString(","))
  }

  test("crossCorpusNearDupPairs reports batch->corpus pairs only") {
    val corpus = Seq((0L, base, "s0"), (3L, other, "s0"))
      .toDF("doc_id", "text", "source")
    val batch = Seq((10L, near, "s1"), (11L, "nothing shared", "s1"))
      .toDF("doc_id", "text", "source")
    val pairs = Dedup.crossCorpusNearDupPairs(corpus, batch,
        threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((10L, 0L)), pairs.toString)
  }

  test("minhash jaccard estimates true jaccard on the near pair") {
    val j = Dedup.minHashLshPairs(docs, threshold = 0.1)
      .filter(col("id_a") === 0 && col("id_b") === 2)
      .select("jaccard").head().getDouble(0)
    // bigram sets of base/near differ in 2 of 13 shingles: j = 11/15
    assert(j > 0.6 && j < 0.85, s"jaccard $j out of expected band")
  }

  test("simHashPairs: identical texts at hamming 0, near at small hamming") {
    val pairs = Dedup.simHashPairs(docs, maxHamming = 16).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getAs[Number]("hamming").longValue()))
      .toMap
    assert(pairs((0L, 1L)) == 0, "exact dup must hash identically")
    assert(pairs.get((0L, 2L)).exists(_ <= 16), "near dup outside hamming 16")
  }

  test("ngramJaccardPairs respects blocking") {
    val pairs = Dedup.ngramJaccardPairs(docs, blockCol = "source",
        threshold = 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    assert(pairs((0L, 1L)) && pairs((0L, 2L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L),
      "cross-block pair emitted")
  }

  test("ngramJaccardPairs AUTO: cool prefix profile stays at bigrams") {
    // on the conformance corpus the default (auto) must be
    // result-identical to an explicit shingleSize = 2 — this is what
    // keeps the bigram DuckDB oracle valid for q_dedup_ngram_block
    val auto = Dedup.ngramJaccardPairs(docs, blockCol = "source",
      threshold = 0.5)
    val pinned = Dedup.ngramJaccardPairs(docs, blockCol = "source",
      shingleSize = 2, threshold = 0.5)
    assertSameRows(auto, pinned)
  }

  test("ngramJaccardPairs AUTO: hot prefix profile escalates to 3-shingles") {
    // every doc shares the same tiny vocabulary, so every 2-shingle
    // prefix bucket is hot; with the budget forced low the operator
    // must escalate and match the explicit 3-shingle result
    val hotDocs = (0L until 40L).map { i =>
      (i, s"alpha beta gamma delta alpha beta word$i gamma", "s0")
    }.toDF("doc_id", "text", "source")
    val base2 = hotDocs.select(col("source").as("blk"),
      col("doc_id").as("id"), Dedup.wordShingles(col("text"), 2).as("sh"))
    assert(Dedup.ngramDfPredictedPairs(base2) > 4,
      "fixture's 2-shingle df profile should read hot")
    val auto = Dedup.ngramJaccardPairs(hotDocs, blockCol = "source",
      threshold = 0.5, autoPairBudget = 4L)
    val pinned3 = Dedup.ngramJaccardPairs(hotDocs, blockCol = "source",
      shingleSize = 3, threshold = 0.5)
    assertSameRows(auto, pinned3)
  }

  test("embeddingNearDupPairs finds planted near-identical vectors") {
    val vecs = Seq(
      (0L, Array.tabulate(64)(i => math.sin(i).toFloat)),
      (1L, Array.tabulate(64)(i => math.sin(i).toFloat * 1.001f)), // ~same dir
      (2L, Array.tabulate(64)(i => math.cos(i * 3 + 1).toFloat)))
      .toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingNearDupPairs(vecs, threshold = 0.99)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    assert(pairs.contains((0L, 1L)), "scaled copy not found")
    assert(!pairs.contains((0L, 2L)) && !pairs.contains((1L, 2L)))
  }

  test("minhash LSH on real documents matches planted near-dups") {
    val real = Engine.table(spark, sf, "documents")
    val pairs = Dedup.minHashLshPairs(real, numHashes = 32, bands = 16,
      threshold = 0.8).count()
    assert(pairs > 0, "sf0.001 documents contain planted near-dups")
  }

  test("connectedComponents: a 200-node chain (diameter >> maxIter) " +
      "falls back to star contraction instead of aborting") {
    val chain = (0 until 199).map(i => (i.toLong, i.toLong + 1))
      .toDF("id_a", "id_b")
    // force the DISTRIBUTED path — this test pins the star-contraction
    // fallback, which the bounded union-find twin would bypass
    val labels = withSQLConf("spark.graft.localTwin.maxRows" -> "0") {
      Dedup.connectedComponents(chain, maxIter = 10)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    assert(labels.size == 200)
    assert(labels.values.forall(_ == 0L),
      s"chain must contract to min id 0: ${labels.toSeq.sortBy(_._1).take(5)}")
  }

  test("connectedComponents: driver-local union-find twin == " +
      "distributed label propagation (random graphs, self-pairs, dups)") {
    val rng = new scala.util.Random(17)
    (1 to 3).foreach { trial =>
      val edges = ((1 to 120).map(_ => (rng.nextInt(80).toLong,
        rng.nextInt(80).toLong)) ++
        Seq((5L, 5L), (5L, 5L), (901L, 902L))) // self-pairs + isolate
        .toDF("id_a", "id_b")
      def run() = Dedup.connectedComponents(edges)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val dist = withSQLConf("spark.graft.localTwin.maxRows" -> "0") {
        run()
      }
      // the default bound, and one past Int.MaxValue (2^32+10) that
      // must not truncate the probe
      Seq("1000000", "4294967306").foreach { bound =>
        val local =
          withSQLConf("spark.graft.localTwin.maxRows" -> bound)(run())
        assert(local == dist, s"trial $trial, bound $bound: " +
          s"${(local.toSet diff dist.toSet).take(5)} / " +
          s"${(dist.toSet diff local.toSet).take(5)}")
      }
    }
  }

  test("starContractionComponents agrees with label propagation on a " +
      "random multi-component graph") {
    val rng = new scala.util.Random(3)
    // 20 blocks of 15 nodes with random intra-block edges — guaranteed
    // small diameter so propagation converges, giving a trusted answer
    val edges = (0 until 20).flatMap { b =>
      val ids = (0 until 15).map(i => (b * 15 + i).toLong)
      ids.tail.map(i => (ids(rng.nextInt(ids.length)), i))
        .filter { case (a, c) => a != c }
    }.toDF("id_a", "id_b")
    val prop = Dedup.connectedComponents(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val star = Dedup.starContractionComponents(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(star == prop,
      s"diff: ${(star.toSet diff prop.toSet).take(5)}")
  }

  /** Random unrelated docs: `n` documents of 30-80 tokens drawn from a
    * 5000-word vocabulary — no near-dup structure, so any band-bucket
    * fill is blocker overhead, not signal. */
  private def randomCorpus(n: Int): org.apache.spark.sql.DataFrame = {
    val rng = new scala.util.Random(1234)
    val vocab = Array.tabulate(5000)(i => s"w$i")
    (0 until n).map { i =>
      val len = 30 + rng.nextInt(51)
      (i.toLong, Array.fill(len)(vocab(rng.nextInt(vocab.length)))
        .mkString(" "), "s0")
    }.toDF("doc_id", "text", "source")
  }

  test("blocker bucket scaling: MinHash band buckets stay O(1) on a 4x " +
      "corpus where radius-8 SimHash bands grow linearly") {
    def maxMinhashBucket(n: Int): Long = {
      val sh = randomCorpus(n).select(col("doc_id").as("id"),
        Dedup.wordShingles(col("text"), 2).as("sh"))
      Dedup.minHashBands(sh, numHashes = 48, bands = 16)
        .groupBy("band", "bh").count()
        .agg(max("count")).head().getLong(0)
    }
    val small = maxMinhashBucket(400)
    val big = maxMinhashBucket(1600)
    // MinHash band keys are 32-bit: unrelated docs essentially never
    // collide, so the max bucket is a small constant independent of N
    assert(small <= 4 && big <= 4,
      s"minhash buckets filled on unrelated docs: $small -> $big")
    // contrast: radius-8 SimHash banding has 9 bands of 7 bits — 128
    // possible keys — so buckets MUST average n/128 (linear in corpus):
    // this is the shape simHashNearDupPairs refuses to run at radius>4
    val fp = randomCorpus(1600).select(
      graft.functions.SimHash64.simhash64(
        graft.functions.wordTokens(col("text"))).as("fp"))
    val hot = fp.select(shiftrightunsigned(col("fp"), 0)
        .bitwiseAND(lit(127L)).as("b0"))
      .groupBy("b0").count().agg(max("count")).head().getLong(0)
    assert(hot >= 1600 / 128,
      s"7-bit band buckets should fill linearly, got $hot")
  }

  test("minHashBandsFor: derived banding keeps miss probability <= 1e-5 " +
      "at the verify threshold across the whole threshold dial") {
    def miss(t: Double, nh: Int, b: Int): Double =
      math.pow(1 - math.pow(t, nh / b), b)
    for (t <- Seq(0.4, 0.5, 0.55, 0.6, 0.7, 0.8, 0.9)) {
      val (nh, b) = Dedup.minHashBandsFor(t)
      assert(nh % b == 0, s"t=$t -> ($nh, $b): rows-per-band not integral")
      assert(nh <= 144, s"t=$t -> $nh hashes exceeds the budget")
      assert(miss(t, nh, b) <= 1e-5 + 1e-12,
        s"t=$t ($nh, $b) miss=${miss(t, nh, b)}")
    }
    // documented fixed points: r=4 b=22 at 0.8, r=2 b=41 at 0.5 — the
    // fixed (48, 16) config this replaced missed ~6% of pairs at t=0.55
    assert(Dedup.minHashBandsFor(0.8) == (88, 22))
    assert(Dedup.minHashBandsFor(0.5) == (82, 41))
    assert(miss(0.55, 48, 16) > 0.03, "the old config really was lossy")
  }

  test("simHashNearDupPairs at radius>4 matches brute-force jaccard " +
      "pairs (minhash-primary blocking, exact verify)") {
    val real = Engine.table(spark, sf, "documents")
    val got = Dedup.simHashNearDupPairs(real, maxHamming = 8,
        threshold = 0.8)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val sh = real.select(col("doc_id").as("id"),
      Dedup.wordShingles(col("text"), 2).as("sh"))
    val want = sh.select(col("id").as("id_a"), col("sh").as("sh_a"))
      .crossJoin(sh.select(col("id").as("id_b"), col("sh").as("sh_b")))
      .filter(col("id_a") < col("id_b"))
      .filter(size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
        size(array_union(col("sh_a"), col("sh_b"))).cast("double") >= 0.8)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want,
      s"missed=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
  }

  test("boundary pair (one doc under shortDocTokens, one over) is " +
      "blocked via short-vs-ALL minhash bands even when SimHash misses") {
    // maxHamming = 0 makes the SimHash blocker catch only identical
    // fingerprints, so this pair can ONLY arrive via the short-doc
    // fallback — which must band short docs against the full corpus,
    // not just among themselves (the 66-token doc is not "short")
    val a = (1 to 63).map(i => s"tok$i").mkString(" ")             // 63 tokens
    val b = a + " extra1 extra2 extra3"                            // 66 tokens
    val pair = Seq((0L, a, "s0"), (1L, b, "s0"))
      .toDF("doc_id", "text", "source")
    val got = Dedup.simHashNearDupPairs(pair, maxHamming = 0,
        threshold = 0.5, shortDocTokens = 64)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((0L, 1L)), s"boundary pair not blocked: $got")
  }

  test("fuzzyNearDupPairs: blocked Levenshtein matching, multi-pass recall") {
    val recs = Seq(
      (1L, "alpha-0001"), (2L, "alphx-0001"),   // substitution mid-name
      (3L, "beta-0002"), (4L, "beta-0003"),     // edit INSIDE the suffix
      (5L, "gamma-0005"), (6L, "gamma-9999"))   // distance 4: never a pair
      .toDF("rid", "nm")
    def pairs(blockers: Seq[org.apache.spark.sql.Column =>
        org.apache.spark.sql.Column]) =
      Dedup.fuzzyNearDupPairs(recs, "rid", "nm", maxDist = 1,
          blockers = blockers)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // single suffix pass: catches the substitution (suffix-invariant),
    // misses the suffix edit — blocking recall is scoped by design
    assert(pairs(Seq(nm => substring(nm, -3, 3))) == Set((1L, 2L)))
    // a second (prefix) pass restores the missed pair; sets union
    assert(pairs(Seq(nm => substring(nm, -3, 3),
      nm => substring(nm, 1, 5))) == Set((1L, 2L), (3L, 4L)))
    // maxDist is exact: distance-4 bucket-mates never pair
    assert(!pairs(Seq(nm => substring(nm, 1, 5)))((5L, 6L)))
    // hot-block guard: a junk key flooding one block is excluded from
    // pairing, other blocks unaffected
    val flooded = recs.unionByName(
      spark.range(100, 140).toDF("rid")
        .withColumn("nm", lit("unknown-0999")))
    val capped = Dedup.fuzzyNearDupPairs(flooded, "rid", "nm",
        maxDist = 1, blockers = Seq(nm => substring(nm, -3, 3)),
        maxBlock = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == Set((1L, 2L)),
      s"flooded block must be skipped, real pair kept: $capped")
    // the DEFAULT cap is finite (DefaultMaxBlock): a junk flood past it
    // is excluded without the caller opting in, while Int.MaxValue is
    // the explicit opt-out restoring exact all-pairs-within-block
    val bigFlood = recs.unionByName(
      spark.range(100, 100 + Dedup.DefaultMaxBlock + 50).toDF("rid")
        .withColumn("nm", lit("unknown-0999")))
    val defCapped = Dedup.fuzzyNearDupPairs(bigFlood, "rid", "nm",
        maxDist = 1, blockers = Seq(nm => substring(nm, -3, 3)))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(defCapped == Set((1L, 2L)),
      s"default cap must skip the flooded block: $defCapped")
    val optOut = Dedup.fuzzyNearDupPairs(bigFlood, "rid", "nm",
        maxDist = 1, blockers = Seq(nm => substring(nm, -3, 3)),
        maxBlock = Int.MaxValue)
      .select("id_a", "id_b").count()
    assert(optOut > defCapped.size,
      "Int.MaxValue opt-out must restore all-pairs within the flood")
  }
}
