package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.immutable.ListMap

/** Dev-only 10× spot-bench of the headline tail (r11 verdict item 7):
  * one data point an order of magnitude above the per-round bench SF,
  * to validate that the measured SCALE.md exponents actually
  * extrapolate before anyone claims 100×.
  *
  * The driver ships no sf1 testdata, so this builds a DERIVED 10×
  * replica of sf0.1 under ./target/scalebench/sf10x (10 copies per
  * table, keys offset per copy). Replication is honesty-preserving per
  * operator family:
  *  - documents: copy 0 is verbatim; copies 1-9 suffix every token
  *    with a copy tag, so WITHIN-copy near-dup structure replicates
  *    (10× the planted clusters — linear, like a real 10× crawl) while
  *    cross-copy shingles never collide (a verbatim 10× replica would
  *    instead plant 45 exact dups of every document — a 100× candidate
  *    blow-up no real corpus has). Vocabulary opens 31 → ~310, the
  *    Heaps-law direction.
  *  - embeddings: ids offset; vectors rotated by copy index (norms and
  *    pairwise-distance distribution preserved, no spurious exact
  *    duplicates).
  *  - orders / lineitem: keys offset; l_suppkey offset per copy too —
  *    TPC-H sf1 has 10× the suppliers of sf0.1, and suppkey drives the
  *    base-cuboid cardinality, so scaling it is the honest choice.
  *
  * Usage: runMain graft.ScaleBench [-factor=N] [query ...] (defaults:
  * factor 10, the five tail queries). Prints one SCALE10X line per
  * query with t(sf0.1), t(Nx), the ratio, and the implied exponent
  * log_N(ratio).
  */
object ScaleBench {

  private val defaults = Seq("q_bm25_index_maint", "q_versioned_merge",
    "q_embed_ivf_upsert", "q_dedup_ngram_block", "q_cube_maintain")

  /** Probe-only entries with no oracle form: operator calls whose
    * SCALE evidence must be measured on the DEFAULT arguments (the
    * catalog queries pin explicit settings). Resolved before
    * [[SparkEntry.queries]]. */
  private val extraProbes: Map[String, (SparkSession, String) => DataFrame] =
    Map(
      // the default-argument fuzzy-linkage call: finite DefaultMaxBlock
      // must keep the cloned-name replica (every block densified by the
      // factor) sublinear — the round-14 uncapped form went quadratic
      "probe_fuzzy_default" -> ((s, d) => {
        val cust = Engine.table(s, d, "customer")
          .select(col("c_custkey").cast("long").as("rid"),
            col("c_name").as("name"))
        graft.operators.Dedup.fuzzyNearDupPairs(cust, "rid", "name")
      }),
      // the streaming substring-dedup store lifecycle (r14 verdict
      // item 7): 4 sequential micro-batches of the documents table
      // through substringDedupBatch into a fresh store, compactEvery=2
      // so a mid-stream compaction fires — the full write/read/compact
      // cost a long-lived stream pays, not just the per-batch kernel
      "probe_stream_substr" -> ((s, d) => {
        val store = "target/scalebench/fpstore_probe"
        org.apache.commons.io.FileUtils.deleteQuietly(
          new java.io.File(store))
        val docs = Engine.table(s, d, "documents")
        var total = 0L
        (0 until 4).foreach { b =>
          graft.streaming.StreamOps.substringDedupBatch(
            docs.filter(col("doc_id") % 4 === b), b.toLong, store,
            k = 8, textCol = "text", idCol = "doc_id", compactEvery = 2) {
            cleaned => total += cleaned.count()
          }
        }
        s.sql(s"SELECT ${total}L AS cleaned_docs")
      }),
      // the documented production dial for hot-vocabulary corpora:
      // 3-token shingles sharpen the PPJoin prefix filter when bigram
      // prefixes are hot (q_dedup_ngram_block's replica exponent 0.92
      // is the 2-shingle adversarial case; this measures the dial)
      "probe_ngram3" -> ((s, d) =>
        graft.operators.Dedup.ngramJaccardPairs(
          Engine.table(s, d, "documents"), blockCol = "source",
          shingleSize = 3, threshold = 0.5)),
      // AUTO-escalation as shipped: the same call q_dedup_ngram_block
      // makes (no shingle argument) — at replica scale the operator
      // must derive the 3-shingle regime itself from its prefix
      // profile (the manual probe_ngram3 dial proved the target:
      // 81.9s / exponent 0.66 at factor 300)
      "probe_ngram_auto" -> ((s, d) =>
        graft.operators.Dedup.ngramJaccardPairs(
          Engine.table(s, d, "documents"), blockCol = "source",
          threshold = 0.5)),
      // streaming lattice-maintenance lifecycle (the foreachBatch body
      // of StreamOps.latticeMaintenanceSink): 4 sequential micro-
      // batches fold into the base cuboid and re-derive descendants,
      // each committed as a VersionedTable version — the steady-state
      // cost a real-time cube pays per trigger, at replica scale
      "probe_stream_lattice" -> ((s, d) => {
        import graft.operators.{Cube, VersionedTable}
        val root = "target/scalebench/lattice_probe"
        org.apache.commons.io.FileUtils.deleteQuietly(
          new java.io.File(root))
        val li = Engine.table(s, d, "lineitem").select(
          col("l_returnflag").as("rf"), col("l_linestatus").as("ls"),
          col("l_shipdate").as("sd"),
          col("l_quantity").cast("long").as("q"),
          col("l_orderkey").as("ok"))
        val baseDims = Seq("rf", "ls", "sd")
        val cuboids = Seq(Seq("rf", "ls"), Seq("sd"))
        val measures = Seq(Cube.MeasureDef("n", Cube.MCountAll),
          Cube.MeasureDef("qty", Cube.MSum, col("q")))
        def rootOf(dims: Seq[String]) = root + "/" + Cube.mangle(dims)
        (0 until 4).foreach { b =>
          val batch = li.filter(col("ok") % 4 === b).drop("ok")
          val lattice =
            if (b == 0) {
              val base = batch.groupBy(baseDims.map(col): _*)
                .agg(measures.head.base, measures.tail.map(_.base): _*)
              Map(baseDims -> base) ++
                cuboids.map(c => c -> Cube.derive(base, c, measures))
            } else Cube.maintainLattice(baseDims,
              VersionedTable.read(s, rootOf(baseDims)), batch,
              measures, cuboids)
          (cuboids :+ baseDims).foreach { c =>
            VersionedTable.commit(s, rootOf(c), lattice(c),
              overwrite = true, idempotencyKey = Some(s"cub-$b"))
          }
        }
        VersionedTable.read(s, rootOf(baseDims))
      }),
      // streaming search-index maintenance lifecycle (the foreachBatch
      // body of StreamOps.searchIndexSink): build once, then 3 CDC
      // upsert batches into the persisted inverted index
      "probe_stream_search" -> ((s, d) => {
        val dir = "target/scalebench/searchidx_probe"
        org.apache.commons.io.FileUtils.deleteQuietly(
          new java.io.File(dir))
        val docs = Engine.table(s, d, "documents")
        graft.operators.TextOps.buildInvertedIndex(
          docs.filter(col("doc_id") % 4 === 0), dir, shards = 8)
        (1 until 4).foreach { b =>
          val batch = docs.filter(col("doc_id") % 4 === b)
            .select(col("doc_id"), col("text"))
            .withColumn("change", lit("insert"))
          graft.operators.TextOps.invertedIndexUpsert(s, dir, batch,
            shards = 8)
        }
        graft.operators.TextOps.bm25TopKIndexed(s, dir,
          Seq("join", "scan", "filter"), k = 10, shards = 8)
      }))

  private def resolve(n: String): (SparkSession, String) => DataFrame =
    extraProbes.getOrElse(n, SparkEntry.queries(n))

  /** Tables covered by the legacy single `_OK` marker (the original
    * wave-1/2 replica set); newer tables get per-table `_OK_<name>`
    * markers so extending the probe to another family never forces a
    * rebuild of an existing (expensive at 100×) replica. */
  private val legacyTables =
    Set("documents", "embeddings", "orders", "customer", "lineitem")

  private def buildReplica(spark: SparkSession, src: String,
      out: String, factor: Int): Unit = {
    val dir = new java.io.File(out)
    val legacyOk = new java.io.File(dir, "_OK").exists()
    if (!legacyOk) {
      org.apache.commons.io.FileUtils.deleteQuietly(dir)
      dir.mkdirs()
    }

    def copies(name: String)(f: (DataFrame, Int) => DataFrame): Unit = {
      val marker = new java.io.File(dir, s"_OK_$name")
      if (marker.exists() || (legacyOk && legacyTables(name))) return
      // events goes through Engine.table so TIMESTAMP(NANOS) testdata
      // is converted once here and the replica holds plain micros.
      val base =
        if (name == "events") Engine.table(spark, src, name)
        else spark.read.parquet(s"$src/$name.parquet")
      (0 until factor).map(i => f(base, i)).reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$out/$name.parquet")
      marker.createNewFile()
      ()
    }
    copies("documents") { (df, i) =>
      val d = df.withColumn("doc_id", col("doc_id") + i * 10000000L)
      if (i == 0) d
      else d.withColumn("text",
        regexp_replace(col("text"), "(\\S+)", "$1c" + i))
    }
    copies("embeddings") { (df, i) =>
      val d = df.withColumn("vec_id", col("vec_id") + i * 10000000L)
      // isometry family: stride permutation (32 odd strides, each a
      // coordinate permutation i -> s·i mod 64 — a permutation matrix,
      // so norms and within-copy pairwise distances are preserved
      // exactly like rotations) × rotation (63) × global negation (2)
      // = 4032 distinct isometries; a bare `i % 63` made copies i and
      // i+63 bit-identical at factor > 63, planting exact-duplicate
      // vectors — the precise artifact this replication exists to
      // avoid. All three moves preserve the pairwise-distance
      // distribution within a copy.
      val rot = i % 63 // rotation must stay inside the 64-dim vector
      val neg = (i / 63) % 2 == 1
      val stride = 2 * ((i / 126) % 32) + 1 // odd => coprime with 64
      require(i < 4032, "embedding replica: only 4032 distinct " +
        "isometries (stride x rotation x negation); raise the family " +
        "before factor > 4032")
      val rotated = if (rot == 0) d
      else d.withColumn("embedding", concat(
        slice(col("embedding"), rot + 1, 64 - rot),
        slice(col("embedding"), 1, rot)))
      val negated = if (!neg) rotated
      else rotated.withColumn("embedding",
        transform(col("embedding"), x => -x))
      if (stride == 1) negated
      else negated.withColumn("embedding",
        // element j of the output reads input index (stride*j) mod 64
        // (1-based SQL indexing via element_at)
        transform(sequence(lit(0), lit(63)),
          j => element_at(col("embedding"), (lit(stride) * j % 64 + 1)
            .cast("int"))))
    }
    copies("orders") { (df, i) =>
      df.withColumn("o_orderkey", col("o_orderkey") + i * 1000000000L)
        .withColumn("o_custkey", col("o_custkey") + i * 10000000L)
    }
    copies("customer") { (df, i) =>
      df.withColumn("c_custkey", col("c_custkey") + i * 10000000L)
    }
    copies("lineitem") { (df, i) =>
      df.withColumn("l_orderkey", col("l_orderkey") + i * 1000000000L)
        .withColumn("l_partkey", col("l_partkey") + i * 10000000L)
        .withColumn("l_suppkey", col("l_suppkey") + i * 100000L)
    }
    // events: a factor-× crawl window has factor-× the users in the
    // SAME time range — ids offset per copy, timestamps verbatim, so
    // per-user behavior (sessions, funnels, as-of lookups) replicates
    // linearly and window partitions stay user-bounded.
    copies("events") { (df, i) =>
      df.withColumn("event_id", col("event_id") + i * 1000000000L)
        .withColumn("user_id", col("user_id") + i * 10000000L)
    }
    // dims matching the fact-key offsets above (TPC-H scales suppliers
    // and parts with SF, so the honest replica does too)
    copies("supplier") { (df, i) =>
      df.withColumn("s_suppkey", col("s_suppkey") + i * 100000L)
    }
    copies("part") { (df, i) =>
      df.withColumn("p_partkey", col("p_partkey") + i * 10000000L)
    }
    // nation/region are SF-independent in TPC-H: verbatim single copy
    for (name <- Seq("nation", "region")) {
      val marker = new java.io.File(dir, s"_OK_$name")
      if (!marker.exists()) {
        spark.read.parquet(s"$src/$name.parquet")
          .write.mode("overwrite").parquet(s"$out/$name.parquet")
        marker.createNewFile()
      }
    }
    new java.io.File(dir, "_OK").createNewFile()
    ()
  }

  def main(args: Array[String]): Unit = {
    val factor = args.collectFirst {
      case a if a.startsWith("-factor=") => a.stripPrefix("-factor=").toInt
    }.getOrElse(10)
    require(factor >= 2, "factor must be >= 2")
    val qArgs = args.filterNot(_.startsWith("-"))
    val names = if (qArgs.nonEmpty) qArgs.toSeq else defaults
    val spark = Harness.session(32)

    val base = "/root/testdata/sf0.1"
    val big = s"target/scalebench/sf${factor}x"
    buildReplica(spark, base, big, factor)

    // JIT/codegen warm at tiny scale
    names.foreach(n => Harness.warm(resolve(n)(spark, Harness.WarmDir)))

    def best(n: String, d: String): Double = {
      Harness.sweep(spark)
      Harness.best(2)(Harness.force(resolve(n)(spark, d)))
    }

    names.foreach { n =>
      val line: ListMap[String, Any] = try {
        val t1 = best(n, base)
        val t10 = best(n, big)
        val ratio = t10 / t1
        ListMap("q" -> n, "factor" -> factor, "t_sf01" -> Json.num(t1, 2),
          "t_big" -> Json.num(t10, 2), "ratio" -> Json.num(ratio, 2),
          "exponent" -> Json.num(math.log(ratio) / math.log(factor.toDouble), 2))
      } catch { case e: Throwable =>
        // one query's replica gap must not kill the rest of the probe
        ListMap("q" -> n, "error" -> Harness.describe(e, 200))
      }
      println("SCALE10X " + Json.write(line))
    }
    spark.stop()
  }
}
