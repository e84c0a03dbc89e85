package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions._

/** Deduplication operators for LLM training-data pipelines
  * (SURVEY.md §7E). Scale notes per operator:
  *
  *  - exact: one shuffle on a 16-byte fingerprint — the minimal-width
  *    shuffle key for a 100 TB corpus.
  *  - MinHash/LSH: candidate generation is a self-join on (band, hash)
  *    buckets, i.e. an equi-join Catalyst shuffles on the bucket key;
  *    only bucket-mates are ever paired, never the full cross product.
  *  - SimHash: 8-byte fingerprint, banded into 4×16-bit keys → same
  *    bucket-join shape; Hamming verification is an integer popcount.
  *  - n-gram Jaccard / embedding cosine are VERIFIERS applied to
  *    candidate pairs, not all-pairs operations.
  */
object Dedup {

  /** Default hot-block occupancy cap for [[fuzzyNearDupPairs]],
    * derived from a per-record comparison budget: with blocks capped
    * at B members, each record is Levenshtein-compared against at most
    * B-1 bucket-mates per blocking pass, so total verify cost is
    * <= N·B per pass — LINEAR in N even when every key collapses onto
    * one junk value. 256 keeps genuine entity blocks (real selective
    * keys put a handful to a few dozen records per block) while
    * excluding the junk-key floods (empty names, placeholder defaults,
    * mass-cloned entities) that are the quadratic hazard; anything
    * genuine inside a 256+-member block needs a more selective
    * blocking key regardless. */
  val DefaultMaxBlock: Int = 256

  /** Exact dedup: keep the first (min `idCol`) row per identical text.
    * GroupBy on the md5 fingerprint, not the text, so the shuffle key
    * is 16 bytes — and the keeper is `min_by(struct(row), id)` under
    * the fingerprint aggregate, not a row_number window over it: the
    * window form funnels every copy of one viral text into a single
    * task (no map-side combine — the straggler/OOM shape at corpus
    * scale), while min_by partially aggregates, so a fingerprint
    * duplicated a million times collapses to ONE candidate row per map
    * task before the shuffle. Same single scan and single exchange as
    * the window form; each row's text crosses the wire at most once. */
  def exactDedup(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val cols = docs.columns.toSeq
    // ordering key wrapped in a struct: min_by IGNORES rows whose key
    // is null, so a bare null id would be dropped from its group (and a
    // group of only-null ids would fabricate an all-NULL row); the
    // struct is never null and struct ordering sorts a null field
    // first, matching the window form's asc-nulls-first keep
    docs.groupBy(md5(col(textCol)).as("__fp"))
      .agg(min_by(struct(cols.map(col): _*), struct(col(idCol))).as("__row"))
      .select(cols.map(c => col("__row").getField(c).as(c)): _*)
  }

  /** Exact-dup groups: fingerprint → group size + kept id (survey form). */
  def exactDupGroups(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame =
    docs.groupBy(md5(col(textCol)).as("fp"))
      .agg(count(lit(1)).as("n_copies"), min(col(idCol)).as("keep_id"))

  /** Fuzzy record-linkage near-dup pairs — classical entity resolution
    * (Fellegi-Sunter style blocking + exact verify): candidates come
    * from equi-joins on cheap deterministic blocking keys (one shuffle
    * per blocking pass, never all-pairs), then exact Levenshtein edit
    * distance verifies each bucket-mate pair. Multiple blocking passes
    * trade cost for recall the standard way — a mutation inside one
    * pass's key region is caught by another pass; choose keys whose
    * value distribution keeps block sizes bounded at corpus scale
    * (suffix/prefix fragments, phonetic codes, length buckets). The
    * default single pass blocks on the last `3` characters, which is
    * invariant to any edit occurring before the suffix. The verify uses
    * the threshold form of `levenshtein` (early-exits once the running
    * distance exceeds `maxDist` — O(maxDist·n) per pair instead of
    * O(n²)), and exact integer edit distance makes the pair set
    * engine-independent (DuckDB's `levenshtein` is the oracle).
    *
    * HOT-BLOCK GUARD: within-block pairing is quadratic in block
    * OCCUPANCY, and real entity tables always grow a few junk-key hot
    * blocks (empty names, placeholder defaults, a celebrity entity
    * cloned millions of times) — measured at the 30× replica, cloned
    * names push the whole operator superlinear (SCALE.md). `maxBlock`
    * applies the standard ER mitigation (skip oversized blocks — they
    * are near-always junk keys, and anything genuine inside them needs
    * a more selective key anyway): blocks with more than `maxBlock`
    * members are excluded from pairing, costing one partial-aggregated
    * block-size frame per pass.
    *
    * The default cap is [[DefaultMaxBlock]] — FINITE, so the
    * default-argument call is scale-safe by construction: a capped
    * block contributes at most `maxBlock` comparisons per member, so
    * total verify work is <= N·DefaultMaxBlock — linear in N no matter
    * how degenerate the key distribution gets (measured at the 30×
    * cloned-name replica in SCALE.md, where the uncapped form went
    * quadratic). Pass `maxBlock = Int.MaxValue` to opt out and get
    * exact all-pairs-within-block semantics — correct only when the
    * caller can vouch the blocking keys keep occupancy bounded. */
  def fuzzyNearDupPairs(recs: DataFrame, idCol: String, nameCol: String,
      maxDist: Int = 1,
      blockers: Seq[Column => Column] = Seq(nm => substring(nm, -3, 3)),
      maxBlock: Int = DefaultMaxBlock): DataFrame = {
    val base = recs.select(col(idCol).as("__id"), col(nameCol).as("__nm"))
    val passes = blockers.map { bk =>
      val keyed0 = base.select(col("__id"), col("__nm"),
        bk(col("__nm")).as("__blk"))
      val keyed =
        if (maxBlock == Int.MaxValue) keyed0
        else keyed0.join(
          keyed0.groupBy("__blk").agg(count(lit(1)).as("__bn"))
            .filter(col("__bn") <= maxBlock).select("__blk"),
          Seq("__blk"))
      val a = keyed.select(col("__blk"), col("__id").as("id_a"),
        col("__nm").as("__nm_a"))
      val b = keyed.select(col("__blk"), col("__id").as("id_b"),
        col("__nm").as("__nm_b"))
      a.join(b, Seq("__blk"))
        .filter(col("id_a") < col("id_b") &&
          levenshtein(col("__nm_a"), col("__nm_b"), maxDist) >= 0)
        .select(col("id_a"), col("id_b"))
    }
    // union across passes, then one distinct: only VERIFIED pairs reach
    // the dedup shuffle, so its width is the true match set, not the
    // candidate volume
    passes.reduce(_ unionByName _).distinct()
  }

  /** Word-level k-shingles (n-grams joined by a space), distinct — a
    * native single-pass Expression ([[graft.functions.WordShingles]])
    * so the split-token child is evaluated once per row, not once per
    * shingle position. */
  def wordShingles(text: Column, k: Int = 2): Column =
    graft.functions.WordShingles.wordShingles(split(text, " "), k)

  /** MinHash signature: `numHashes` seeded 32-bit min-hashes over the
    * shingle set — a native single-pass Expression
    * ([[graft.functions.MinHashSig]]); no explode, no shuffle, and the
    * shingle child is evaluated exactly once per row. */
  def minHashSignature(shingleCol: Column, numHashes: Int = 32): Column =
    graft.functions.MinHashSig.minhashSig(shingleCol, numHashes)

  /** Exact Jaccard between two shingle arrays. */
  private def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") /
      size(array_union(a, b)).cast("double")

  /** Join candidate (id_a, id_b) pairs back to the shingle table — once
    * per side — and keep pairs at/above the Jaccard threshold. Exactly
    * one verification per candidate pair; the shingle arrays never enter
    * the candidate-generation shuffle. */
  /** `cand` may contain duplicate (id_a, id_b) rows — deduped here AFTER
    * an explicit-width repartition: candidate pairs are tiny in BYTES,
    * so AQE would coalesce their exchange to 1-2 partitions and
    * serialize the CPU-heavy set-intersection verify; a user-numbered
    * repartition is preserved by AQE and also satisfies the dedup agg's
    * required distribution (no extra exchange). */
  private def verifyPairs(cand: DataFrame, shingleTable: DataFrame,
      threshold: Double): DataFrame =
    cand
      .repartition(cand.sparkSession.sparkContext.defaultParallelism,
        col("id_a"), col("id_b"))
      .dropDuplicates("id_a", "id_b")
      .join(shingleTable.select(col("id").as("id_a"), col("sh").as("sh_a")),
        Seq("id_a"))
      .join(shingleTable.select(col("id").as("id_b"), col("sh").as("sh_b")),
        Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        jaccard(col("sh_a"), col("sh_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)

  /** MinHash band rows for a shingle table: (id, band, bh) where `bh`
    * is a 32-bit hash of `numHashes/bands` consecutive signature
    * minhashes. The band KEY SPACE is 2^32 regardless of banding
    * parameters — bucket occupancy is driven by real similarity
    * structure, not key width, which is what makes MinHash banding the
    * scale-safe blocker (SimHash band keys narrow as the radius grows;
    * see [[simHashNearDupPairs]]). */
  private[graft] def minHashBands(shingleTable: DataFrame,
      numHashes: Int, bands: Int): DataFrame = {
    val rows = numHashes / bands
    shingleTable
      .withColumn("sig", minHashSignature(col("sh"), numHashes))
      .select(col("id"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          b => hash(slice(col("sig"), b * rows + 1, lit(rows))))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bh")
  }

  /** Banding parameters `(numHashes, bands)` derived from the VERIFY
    * threshold: banded-LSH recall at similarity `t` is
    * `1 - (1 - t^r)^b` (r rows per band, b bands), so any FIXED (r, b)
    * silently loses recall once callers lower the threshold. Chooses
    * the LARGEST r — candidate precision improves with r — whose band
    * count `b = ceil(ln(miss) / ln(1 - t^r))` keeps `r*b` within the
    * hash budget, guaranteeing miss probability <= `targetMiss` for any
    * pair at/above the threshold. Default budget 144 hashes: r=4, b=22
    * at t=0.8; r=2, b=41 at t=0.5. */
  private[graft] def minHashBandsFor(threshold: Double,
      targetMiss: Double = 1e-5, maxHashes: Int = 144): (Int, Int) = {
    val t = math.max(0.2, math.min(0.95, threshold))
    val fits = for {
      r <- 8 to 1 by -1
      pBand = math.pow(t, r)
      b = math.ceil(math.log(targetMiss) / math.log1p(-pBand)).toInt
      if b >= 1 && r * b <= maxHashes
    } yield (r * b, b)
    fits.headOption.getOrElse((maxHashes, maxHashes))
  }

  /** MinHash+LSH near-dup pairs: signature → band hashes → self-join on
    * (band, bandHash) carrying ONLY (id, band, bandHash) — the shingle
    * arrays stay out of the banded shuffle — then `distinct` collapses
    * multi-band hits BEFORE verification, so exact Jaccard runs once per
    * candidate pair. Returns (id_a, id_b, jaccard) with id_a < id_b and
    * jaccard >= threshold. */
  def minHashLshPairs(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", shingleSize: Int = 2,
      numHashes: Int = 32, bands: Int = 8,
      threshold: Double = 0.5): DataFrame = {
    val shingleTable = docs.select(col(idCol).as("id"),
      wordShingles(col(textCol), shingleSize).as("sh"))
    val banded = minHashBands(shingleTable, numHashes, bands)
    val a = banded.select(col("band"), col("bh"), col("id").as("id_a"))
    val b = banded.select(col("band"), col("bh"), col("id").as("id_b"))
    val cand = a.join(b, Seq("band", "bh"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
    verifyPairs(cand, shingleTable, threshold)
  }

  /** Exact n-gram Jaccard pairs within an explicit blocking key via
    * PREFIX FILTERING (Bayardo et al., WWW 2007 "Scaling Up All Pairs
    * Similarity Search"): order each document's shingles by ascending
    * document frequency (rarest first); a pair with Jaccard >= t must
    * share >= ceil(t*|A|) shingles, so the first |A|-ceil(t*|A|)+1
    * shingles of each side must intersect. Candidates = pairs sharing a
    * prefix shingle (+ block key) — 100% recall, so results are
    * identical to the all-pairs form, but the join buckets are rare
    * shingles instead of whole blocks: no O(block²) pair explosion, and
    * a hot block at 100 TB stays near-linear.
    *
    * PARAMETER SCALING RULE (measured, see SCALE.md): candidate volume
    * is governed by prefix-shingle document frequency. On a
    * small-vocabulary corpus bigram prefixes are hot and candidates
    * grow superlinearly (measured exponent 2.7 on the synthetic
    * testdata, where the TRUE answer is ~1 pair) — at production scale
    * run (a) `shingleSize >= 3` (rarer prefixes: sf0.1 candidates drop
    * 219,865 → 88, exponent 2.73 → 0.83, measured), (b) `threshold >=
    * 0.7` (prefix length and the
    * position filter both tighten with t), and (c) a real blocking key
    * (lang × length-band × domain, 10³-10⁵ values — `source` here has
    * 5). For corpus-wide low-threshold dedup without a caller-owned
    * block key, [[minHashLshPairs]] is the right operator.
    *
    * `shingleSize = 0` (the default) is AUTO: shingles start at 2 and
    * ESCALATE to 3 when the measured prefix-bucket profile predicts
    * more than [[NgramAutoPairBudget]] TOTAL candidate pairs — the
    * scaling rule above applied by the operator itself instead of by
    * a scaladoc dial (same polarity lesson as [[fuzzyNearDupPairs]]'
    * DefaultMaxBlock: scale defaults must not depend on the caller
    * reading the docs). The profile is one STREAMED map-side-combined
    * aggregate pass (nothing materialized — an escalated run must not
    * pay a corpus-sized checkpoint of the size it rejects), then only
    * the SELECTED size is tokenized once more into a localCheckpoint
    * that the prefix derivation and the verify join share — down from
    * three full tokenize scans in the r16 shape. Escalation itself is
    * far cheaper than the pairing it avoids (measured at the 300x
    * hot-vocabulary replica: 413.6s pinned at 2 vs 81.9s at 3). Escalation changes which similarity is computed
    * (Jaccard over 3-shingles, the sharper production measure for
    * hot-vocabulary corpora) — pass an explicit `shingleSize` to pin
    * the measure. */
  def ngramJaccardPairs(docs: DataFrame, blockCol: String,
      textCol: String = "text", idCol: String = "doc_id",
      shingleSize: Int = 0, threshold: Double = 0.5,
      autoPairBudget: Long = NgramAutoPairBudget): DataFrame = {
    // ONE materialized tokenize per run: the CHOSEN (blk, id, sh)
    // frame is localCheckpointed so the prefix derivation and the
    // verify join read the same stored rows instead of each re-running
    // split+transform+filter over the whole corpus (the r16 AUTO
    // default made the steady-state path tokenize THREE times —
    // profile, prefix, verify — an extra full corpus scan per extra
    // pass at 100 TB). Same trade the pairing stage already makes for
    // prefix rows; blocks are freed by the async ContextCleaner once
    // the returned frame is unreferenced.
    def baseAt(sz: Int) = docs.select(col(blockCol).as("blk"),
      col(idCol).as("id"), wordShingles(col(textCol), sz).as("sh"))
    def run(base: DataFrame) = {
      val ck = base.localCheckpoint()
      verifyPairs(ngramCandidates(ck, threshold),
        ck.select(col("id"), col("sh")), threshold)
    }
    if (shingleSize > 0) run(baseAt(shingleSize))
    // the AUTO decision profile STREAMS over an uncheckpointed
    // size-2 pass and only the SELECTED size is checkpointed:
    // checkpointing size 2 before deciding would materialize a
    // corpus-sized frame that an escalated run immediately discards —
    // measured at the 300x hot-vocabulary replica: 128.8s with the
    // eager pre-decision checkpoint vs 68.8s pinned-3 in the same
    // session; the streamed profile costs one aggregate-only pass
    // (r16 measured that shape's escalated exponent at 0.55)
    else if (ngramDfPredictedPairs(baseAt(2)) <= autoPairBudget)
      run(baseAt(2))
    else run(baseAt(3))
  }

  /** AUTO-escalation budget for [[ngramJaccardPairs]]: TOTAL predicted
    * bucket pairs (from the df profile, [[ngramDfPredictedPairs]])
    * above which the operator escalates from 2- to 3-token shingles.
    * Total, not per-document: on a copy-structured corpus the per-doc
    * intensity is SCALE-INVARIANT (measured 136 prefix pairs/doc at
    * both sf0.1 and the 300x replica — new sources add new vocabulary,
    * Heaps-law style), while the absolute pairing work is what
    * dominates the wall clock. Measured operating points of the df
    * bound: sf0.01 = 17,654, sf0.1 = 1,817,835 (both must stay in the
    * oracle-pinned bigram regime), 300x replica = 545,350,500 (must
    * escalate: 413.6s at 2-shingles vs 81.9s at 3). 2^25 = 33.5M sits
    * 18x above sf0.1 and 16x below the replica. */
  val NgramAutoPairBudget: Long = 1L << 25

  /** Escalation signal for [[ngramJaccardPairs]]: sum of C(df, 2)
    * over (blk, tok) shingle buckets across ALL occurrences — an
    * upper bound on the prefix-bucket SMJ pair volume (prefix rows are
    * a rarest-first subset; measured within 2.7x of the exact prefix
    * count at every operating point), and the conservative side for
    * an escalation guard. Deliberately computed from the RAW df
    * profile — one map-side-combined aggregate, no window, no join —
    * so the decision never pays the prefix-derivation cost of the
    * size it is about to reject (deciding from the exact 2-shingle
    * PREFIX profile measured 261s at the 300x replica vs ~97s
    * deciding from this bound).
    *
    * The per-bucket C(c,2) term and the sum run in DECIMAL, not
    * LongType: a single stopword-like (blk, tok) bucket above ~3e9
    * occurrences would overflow a long partial to a NEGATIVE value
    * and silently disable escalation in exactly the hot regime the
    * guard exists for. A sum past Long.MaxValue (or any overflow
    * null) clamps to Long.MaxValue = escalate. */
  private[graft] def ngramDfPredictedPairs(base: DataFrame): Long = {
    val c = col("c").cast("decimal(20,0)")
    val r = base.select(col("blk"), explode(col("sh")).as("tok"))
      .groupBy("blk", "tok").agg(count(lit(1)).as("c"))
      .agg(sum((c * (c - 1) / 2).cast("decimal(38,0)")).as("pairs"),
        count(lit(1)).as("buckets")).head()
    val d = r.getDecimal(0)
    if (d == null)
      // null sum over a NON-empty profile is decimal overflow under
      // ANSI-off — unrepresentably hot, so: escalate. Empty = cold.
      (if (r.getLong(1) == 0L) 0L else Long.MaxValue)
    else if (d.compareTo(java.math.BigDecimal.valueOf(Long.MaxValue)) > 0)
      Long.MaxValue
    else d.longValueExact()
  }

  /** Prefix-row derivation of [[ngramCandidates]] — (blk, tok, id, sz,
    * rn) for each document's rarest-first prefix tokens. Exposed
    * pre-checkpoint so PlanShapeSpec can pin its shape (df via partial
    * aggregation, the only window per-document). */
  private[graft] def ngramPrefix(base: DataFrame,
      threshold: Double): DataFrame = {
    // shingle TEXT never leaves this derivation: document frequency
    // and the downstream pairing bucket are functions of the
    // shingle's IDENTITY, for which the 8-byte xxhash64 `th` stands
    // in (guide §2.3, narrower shuffle keys) — the df exchange, the
    // join back, the prefix checkpoint, and both pairing-SMJ sides
    // all shed the multi-word shingle strings. A hash collision
    // merely merges two shingles' df counts and pairing buckets:
    // the rarest-first ranking below stays a consistent total order
    // across documents (ordered by (df(th), tok) — tok itself is the
    // tiebreak), so the prefix-filter recall proof is untouched, and
    // a merged pairing bucket only ADDS candidates, which the exact
    // Jaccard verify discards.
    val toks = base.select(col("blk"), col("id"), size(col("sh")).as("sz"),
      explode(col("sh")).as("tok"))
      .withColumn("th", xxhash64(col("tok")))
    val prefixLen = col("sz") - ceil(col("sz") * threshold) + 1
    // document frequency via groupBy (map-side partial aggregation) and
    // a join back — NOT a count-over-window: a window partitioned on
    // (blk, tok) funnels every occurrence of a Zipfian hot token into
    // ONE task with no partial combine (straggler/OOM at corpus scale),
    // while the partial-agg count never materializes a hot key's rows
    // together and the many-to-one join back is AQE-skew-splittable
    // (and broadcastable when the df table is small)
    val dfreq = toks.groupBy("blk", "th")
      .agg(count(lit(1)).as("df"))
    toks
      .join(dfreq, Seq("blk", "th"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("blk", "id").orderBy(col("df"), col("tok"))))
      .filter(col("rn") <= prefixLen)
      .select("blk", "th", "id", "sz", "rn")
  }

  /** Candidate stage of [[ngramJaccardPairs]] (prefix filter + PPJoin
    * size/position pruning), exposed for the scale probe
    * ([[graft.ScaleProbe]]): candidate growth vs corpus growth is the
    * empirical subquadraticity evidence. Input schema (blk, id, sh). */
  private[graft] def ngramCandidates(base: DataFrame,
      threshold: Double): DataFrame =
    ngramCandidatesFromPrefix(
      ngramPrefix(base, threshold).localCheckpoint(), threshold)

  /** Pairing stage of [[ngramCandidates]] over an ALREADY-CHECKPOINTED
    * prefix frame — split out so probes and tests can exercise the
    * pairing against a pre-materialized prefix. */
  private[graft] def ngramCandidatesFromPrefix(pfx: DataFrame,
      threshold: Double): DataFrame = {
    val par = pfx.sparkSession.sparkContext.defaultParallelism
    // SPILLABLE bucket-mate pairing: checkpoint the prefix rows (only
    // (blk, tok, id, sz, rn) — 8-40 B columns, never payloads) and
    // sort-merge self-join on (blk, tok). The checkpoint means the
    // prefix derivation — shingle explode, df join, prefix window —
    // is evaluated ONCE and both join sides read the materialized
    // rows; the SMJ sorts externally, so task memory is one bucket's
    // run, not the corpus. The earlier shape (groupBy + collect_list +
    // double explode) held EVERY prefix bucket's entry array in a
    // task's hash-agg buffers concurrently — non-spillable by
    // construction, and the r12 100× probe measured it OOMing an
    // 8 GiB heap at 500k docs under the conformance dials. A hot
    // bucket still pairs O(df²) under either shape (CPU, streamed);
    // AQE's skew-join splitting applies to the SMJ if one bucket
    // dominates a partition.
    // Block lifecycle: checkpoint blocks are freed by the async
    // ContextCleaner once the returned frame is unreferenced (Bench
    // additionally sweeps persistent RDDs between queries); note the
    // checkpoint also makes CONSTRUCTING this frame run the prefix
    // derivation eagerly.
    // J>=t needs overlap o >= t/(1+t)*(|A|+|B|) (PPJoin, Xiao et al.
    // WWW 2008); both pruning filters below are necessary conditions,
    // so candidate recall stays 100%:
    //  - size filter: t*max(|A|,|B|) <= min(|A|,|B|)
    //  - position filter: tokens after the shared prefix position can
    //    contribute at most min(|A|-p_a, |B|-p_b)+1 overlap
    val oMin = ceil((col("sz_a") + col("sz_b")) *
      (threshold / (1 + threshold)))
    // explicit-width repartition on BOTH join sides: prefix rows are
    // tiny in bytes, and AQE's size-based coalescing would otherwise
    // collapse the join to 1-2 partitions and run the (CPU-bound)
    // O(df²) pair expansion + PPJoin filters nearly single-threaded.
    // A user-specified repartition is exempt from AQE coalescing and
    // already satisfies the join's clustering, so no extra exchange.
    pfx.select(col("blk"), col("th"), col("id").as("id_a"),
        col("sz").as("sz_a"), col("rn").as("p_a"))
      .repartition(par, col("blk"), col("th"))
      .join(pfx.select(col("blk"), col("th"), col("id").as("id_b"),
        col("sz").as("sz_b"), col("rn").as("p_b"))
        .repartition(par, col("blk"), col("th")), Seq("blk", "th"))
      .filter(col("id_a") < col("id_b"))
      .filter(least(col("sz_a"), col("sz_b")) >=
        ceil(greatest(col("sz_a"), col("sz_b")) * threshold))
      .filter(least(col("sz_a") - col("p_a"), col("sz_b") - col("p_b")) +
        1 >= oMin)
      .select("id_a", "id_b")
  }

  /** Partial-overlap pairs via winnowed fingerprints: documents sharing
    * at least `minShared` winnow fingerprints (≈ sharing that many
    * distinct character runs of length >= w+k-1). Candidate shape is
    * the same fingerprint-bucket join as every other dedup op — the
    * join key is an 8-byte hash, never text. Catches copy-paste /
    * boilerplate overlap that whole-document sketches dilute away. */
  def partialOverlapPairs(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", k: Int = 8, w: Int = 4,
      minShared: Int = 2, maxDf: Int = 50): DataFrame = {
    val par = docs.sparkSession.sparkContext.defaultParallelism
    val raw = docs.select(col(idCol).as("id"),
      explode(graft.functions.Winnow.winnow(col(textCol), k, w)).as("fp"))
    // stop-fingerprint cap: a fingerprint present in more than maxDf
    // documents is corpus boilerplate, not copy evidence, and its
    // bucket would pair O(df²) — drop it (the standard move in
    // fingerprint-index dedup; a bucket this hot carries no signal).
    // The hot set is found with a partial-aggregated groupBy — NOT a
    // count-over-window on fp, which would funnel every occurrence of
    // a boilerplate fingerprint into one task (the exact straggler the
    // cap exists to prevent); the anti-join's build side holds only
    // the >maxDf fingerprints (tiny by construction) so AQE broadcasts
    // it and the exploded stream never reshuffles for the filter.
    val hot = raw.groupBy("fp")
      .agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf)
      .select("fp")
    val fps = raw.join(hot, Seq("fp"), "left_anti")
    val a = fps.select(col("fp"), col("id").as("id_a"))
    val b = fps.select(col("fp"), col("id").as("id_b"))
    a.join(b, Seq("fp")).filter(col("id_a") < col("id_b"))
      .repartition(par, col("id_a"), col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("shared_fps"))
      .filter(col("shared_fps") >= minShared)
  }

  /** SimHash near-dup pairs: 64-bit fingerprints banded into `nBands`
    * keys, verified by popcount of the XOR. Pigeonhole: a pair within
    * Hamming distance `nBands - 1` always shares ≥1 intact band, so
    * `nBands = maxHamming + 1` makes candidate recall EXACT within the
    * radius (the default 4×16-bit banding is exact only to Hamming 3 —
    * beyond that it is probabilistic). Scale tradeoff: more bands =
    * narrower band keys = denser buckets; at corpus scale keep
    * maxHamming (and hence nBands) small, or the band-bucket join
    * fans out. */
  def simHashPairs(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", maxHamming: Int = 3,
      nBands: Int = 4): DataFrame =
    fingerprintHammingPairs(
      docs.select(col(idCol).as("id"),
        SimHash64.simhash64(wordTokens(col(textCol))).as("fp")),
      maxHamming, nBands)

  /** All (id_a < id_b) pairs of 64-bit fingerprints within
    * `maxHamming`, by pigeonhole banding: split the word into `nBands`
    * bands — a pair within the radius must share at least one clean
    * band when `nBands > maxHamming` — self-join per band, popcount-
    * verify. The fingerprint-agnostic core of [[simHashPairs]], shared
    * with the image dHash near-dup path
    * ([[Multimodal.imageNearDupPairs]]): `fps` carries (id, fp). The
    * band-width envelope rule travels with it — keys are `64/nBands`
    * bits, so occupancy goes quadratic at corpus scale once the width
    * drops below ~12 bits (see [[simHashNearDupPairs]]). */
  def fingerprintHammingPairs(fps: DataFrame, maxHamming: Int,
      nBands: Int): DataFrame = {
    require(nBands >= 1 && nBands <= 64, s"nBands must be 1..64: $nBands")
    val par = fps.sparkSession.sparkContext.defaultParallelism
    val fp = fps.select(col("id"), col("fp"))
    // band i covers bits [i*w, i*w+w) (last band takes the remainder)
    val w = 64 / nBands
    val bandCols = (0 until nBands).map { b =>
      val width = if (b == nBands - 1) 64 - b * w else w
      val mask = if (width == 64) -1L else (1L << width) - 1L
      shiftrightunsigned(col("fp"), b * w).bitwiseAND(lit(mask))
    }
    val banded = fp.select(col("id"), col("fp"),
        posexplode(array(bandCols: _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bh")
    val a = banded.select(col("band"), col("bh"), col("id").as("id_a"),
      col("fp").as("fp_a"))
    val b = banded.select(col("band"), col("bh"), col("id").as("id_b"),
      col("fp").as("fp_b"))
    // candidates-then-verify: the band join carries (id, fp) — 16
    // bytes, never documents — so the popcount verify runs INSIDE the
    // band join output, before pair-dedup: with narrow bands (high
    // nBands) most candidates fail the Hamming gate, so filtering
    // first keeps the dedup shuffle proportional to true pairs instead
    // of band collisions, and no join back to the fingerprint table is
    // needed at all.
    a.join(b, Seq("band", "bh")).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("fp_a").bitwiseXOR(col("fp_b"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .repartition(par, col("id_a"), col("id_b"))
      .dropDuplicates("id_a", "id_b")
  }

  /** SimHash-BLOCKED exact near-dup pairs: a cheap blocker generates
    * candidates, exact shingle Jaccard verifies each one — the same
    * candidates-then-verify production shape as [[minHashLshPairs]].
    * Because the verifier is exact, the OUTPUT is engine-independent
    * (all pairs with jaccard >= threshold) as long as the blocker's
    * recall holds.
    *
    * Blocker selection is radius-dependent, because SimHash banding's
    * key space is `64/(maxHamming+1)` bits — it NARROWS as the radius
    * grows, and bucket occupancy ~N/2^width goes quadratic at corpus
    * scale once the width drops below ~12 bits:
    *  - `maxHamming <= 4` (the SimHash safe envelope — 5+ bands of
    *    >= 12 bits): SimHash banding with `nBands = maxHamming + 1` is
    *    the primary blocker (pigeonhole: any pair within the radius
    *    shares a clean band). SHORT documents (< `shortDocTokens`
    *    tokens) additionally block via MinHash bands against the FULL
    *    corpus — a single token edit in a 12-token doc flips 5-13 of
    *    64 SimHash bits (measured on the testdata), so no fixed radius
    *    is reliable there; banding short docs against everything (not
    *    just among themselves) also covers pairs straddling the length
    *    boundary, where the under-threshold side has the unreliable
    *    fingerprint.
    *  - `maxHamming > 4`: MinHash banding over ALL documents is the
    *    primary blocker — at Hamming 8 the 9 SimHash bands are 7 bits
    *    (key cardinality 128, bucket size N/128 → an effectively
    *    quadratic self-join at 100x data), while MinHash band keys are
    *    32-bit hashes whose bucket occupancy tracks true similarity
    *    structure, with length-independent recall >= 1 - 1e-5 AT THE
    *    VERIFY THRESHOLD (banding is derived from it, see
    *    [[minHashBandsFor]]; at the default 0.8 that is 22 bands of 4).
    * Raw fingerprint pairs within an explicit Hamming radius remain
    * available via [[simHashPairs]] (ScalaTest-pinned), which documents
    * the same envelope. */
  def simHashNearDupPairs(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", maxHamming: Int = 8,
      shingleSize: Int = 2, threshold: Double = 0.8,
      shortDocTokens: Int = 64): DataFrame = {
    // banding derived from the VERIFY threshold, not a fixed (48, 16):
    // a fixed 3-rows-per-band config quietly loses recall as callers
    // lower the threshold (at jaccard 0.55 it misses ~6% of true
    // pairs), which would break the "engine-independent output" claim
    val (numHashes, bands) = minHashBandsFor(threshold)
    val shingleTable = docs.select(col(idCol).as("id"),
      wordShingles(col(textCol), shingleSize).as("sh"))
    val cand =
      if (maxHamming > 4) {
        // beyond the SimHash envelope: length-independent MinHash
        // banding over the whole corpus, 32-bit band keys
        val banded = minHashBands(shingleTable, numHashes, bands)
        banded.select(col("band"), col("bh"), col("id").as("id_a"))
          .join(banded.select(col("band"), col("bh"), col("id").as("id_b")),
            Seq("band", "bh"))
          .filter(col("id_a") < col("id_b"))
          .select("id_a", "id_b")
      } else {
        val simCand = simHashPairs(docs, textCol, idCol, maxHamming,
            nBands = maxHamming + 1)
          .select("id_a", "id_b")
        // short docs block against the FULL corpus's MinHash bands, so
        // a (short, long) boundary pair still gets a guaranteed blocker
        val allBands = minHashBands(shingleTable, numHashes, bands)
        val shortIds = docs
          .filter(size(wordTokens(col(textCol))) < shortDocTokens)
          .select(col(idCol).as("id"))
        val shortBands = allBands.join(shortIds, Seq("id"), "left_semi")
        val shortCand = shortBands
          .select(col("band"), col("bh"), col("id").as("id_s"))
          .join(allBands.select(col("band"), col("bh"), col("id").as("id_o")),
            Seq("band", "bh"))
          .filter(col("id_s") =!= col("id_o"))
          .select(least(col("id_s"), col("id_o")).as("id_a"),
            greatest(col("id_s"), col("id_o")).as("id_b"))
        simCand.unionByName(shortCand)
      }
    verifyPairs(cand, shingleTable, threshold)
  }

  /** Connected components over near-dup pairs — the step that turns
    * pairwise evidence into actionable clusters: transitive closure
    * groups `A~B, B~C` into one cluster even when `A~C` was never
    * directly observed, and the min id of each component becomes its
    * canonical representative.
    *
    * Algorithm: min-label propagation (each node repeatedly takes the
    * min of its own and its neighbors' labels) — the standard
    * MapReduce-style CC iteration (cf. Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC 2014; label propagation
    * is their baseline, star-contraction the adversarial-diameter
    * upgrade). Near-dup graphs are unions of small dense clusters, so
    * the diameter — and the iteration count — is tiny in practice;
    * if an adversarial topology (a chain of crawl mirrors) exceeds
    * `maxIter`, the computation FALLS BACK to
    * [[starContractionComponents]] (O(log²n) rounds regardless of
    * diameter) instead of aborting.
    *
    * Scale shape: each iteration is one equi-join edges⨝labels (both
    * sides hash-partitioned on the join key) + one groupBy(min) — all
    * shuffle keys are 8-byte ids, never documents. The edge list is
    * localCheckpoint'd once and reused every iteration; labels are
    * checkpointed per iteration so lineage (and the replay cost of a
    * lost executor) stays O(1) instead of O(iterations). The first
    * propagation round is fused into label initialization (min of self
    * and direct neighbors needs only a groupBy), iteration width adapts
    * to the materialized edge count (a pair graph is orders of
    * magnitude smaller than its corpus — iterating a few hundred edges
    * at corpus width just pays scheduler overhead), and convergence
    * (labels only ever decrease, so: no label changed this round) is
    * read from the just-checkpointed blocks, one tiny local job per
    * iteration.
    *
    * @param pairs DataFrame with two id columns (defaults `id_a`,
    *              `id_b`), one row per observed near-dup pair.
    * @return (id, cluster_id) for every id appearing in any pair;
    *         cluster_id = min id of the component.
    */
  def connectedComponents(pairs: DataFrame, idA: String = "id_a",
      idB: String = "id_b", maxIter: Int = 30): DataFrame = {
    val spark = pairs.sparkSession
    // driver-local twin ([[graft.Engine.boundedLocal]]): every path of
    // this operator — label propagation, and the star-contraction
    // fallback — computes cluster_id = min node id per component, so a
    // driver-side union-find over the pair list is exactly equal. Null
    // ids, whose three-valued join semantics the union-find does not
    // replicate, take the distributed loop.
    val half = pairs.select(col(idA).cast("long").as("src"),
      col(idB).cast("long").as("dst"))
    graft.Engine.boundedLocal(half, "connectedComponents") match {
      case Some(rows) if !rows.exists(r => r.isNullAt(0) || r.isNullAt(1)) =>
        return ccLocal(spark, rows)
      case _ =>
    }
    val par = spark.sparkContext.defaultParallelism
    val wide = half
      .unionByName(half.select(col("dst").as("src"), col("src").as("dst")))
      .repartition(par, col("src"))
      .localCheckpoint()
    // the checkpoint already materialized the edge list, so this count
    // is a cheap cached-block scan — and it both handles the empty
    // input and sizes the iteration shuffles: a near-dup pair graph is
    // MANY orders of magnitude smaller than its corpus (256 edges at
    // sf0.1), so iterating at corpus width pays ~par scheduling
    // overheads per tiny job; at 100 TB the count grows past the
    // threshold and the width climbs back to full parallelism
    val edgeCount = wide.count()
    if (edgeCount == 0)
      return half.select(col("src").as("id"), col("src").as("cluster_id"))
    val width = math.max(1L, math.min(par.toLong, edgeCount / 65536L + 1L)).toInt
    // coalesce is narrow — no extra materialization job; the iteration
    // joins re-partition the (tiny) frame themselves
    val edges = if (width == par) wide else wide.coalesce(width)
    // iteration 1 fused into initialization: label(u) = min(u, N(u)) is
    // exactly what the first propagation round over identity labels
    // produces, for one groupBy instead of join+groupBy+join
    var labels = edges.groupBy(col("src").as("id"))
      .agg(min(col("dst")).as("mn"))
      .select(col("id"), least(col("id"), col("mn")).as("label"))
      .localCheckpoint()
    var converged = false
    var iter = 1
    // rolling checkpoint, not bare localCheckpoint: (a) the rebuild
    // resets checkpoint stats that inherit the joined plan's ESTIMATES
    // and compound multiplicatively per round (see Graph.scala) —
    // harmless at the 3-6 rounds this corpus converges in, pathological
    // on the high-diameter graphs the maxIter bound exists for; (b) the
    // previous round's blocks are released as each new round
    // materializes, so the loop holds ~2 label vectors in storage, not
    // maxIter of them
    val roll = new Graph.RollingCheckpoint
    while (!converged && iter < maxIter) {
      val nbrMin = edges
        .join(labels.withColumnRenamed("id", "src"), Seq("src"))
        .groupBy(col("dst").as("id"))
        .agg(min(col("label")).as("nbr"))
      val next = roll(
        labels.join(nbrMin, Seq("id"), "left")
          .select(col("id"), col("label").as("prev"),
            least(col("label"), coalesce(col("nbr"), col("label")))
              .as("label")))
      // labels only ever decrease, so convergence = no row changed this
      // round; the filter scans next's just-checkpointed blocks (one
      // tiny local job), replacing the old per-round decimal label-sum
      converged = next.filter(col("label") < col("prev")).isEmpty
      labels = next.select("id", "label")
      iter += 1
    }
    if (!converged) starContractionComponents(pairs, idA, idB)
    else labels.select(col("id"), col("label").as("cluster_id"))
  }

  /** Driver-local union-find twin of [[connectedComponents]]: union by
    * MIN ROOT VALUE (so every component's root is its minimum id —
    * the exact fixed point label propagation converges to and star
    * contraction roots at) with path compression. Output rows: one per
    * distinct node of the pair list, (id, cluster_id), matching the
    * distributed paths' node universe (self-pairs keep their node). */
  private def ccLocal(spark: org.apache.spark.sql.SparkSession,
      rows: Array[org.apache.spark.sql.Row]): DataFrame = {
    import scala.collection.mutable
    val parent = mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val n = parent(c); parent.update(c, r); c = n }
      r
    }
    rows.foreach { row =>
      val a = row.getLong(0); val b = row.getLong(1)
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val ra = find(a); val rb = find(b)
      if (ra != rb) {
        if (ra < rb) parent.update(rb, ra) else parent.update(ra, rb)
      }
    }
    val out = parent.keysIterator.map(id =>
      org.apache.spark.sql.Row(id, find(id))).toSeq
    spark.createDataFrame(
      spark.sparkContext.parallelize(out, 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("cluster_id",
          org.apache.spark.sql.types.LongType))))
  }

  /** Connected components by ALTERNATING STAR CONTRACTION (Kiveris et
    * al., SoCC 2014, "Two-Phase" algorithm): large-star hangs every
    * higher-id neighbor of a node onto the node's minimum neighbor,
    * small-star re-hangs the lower neighborhood; alternating the two
    * contracts every component into a star rooted at its min id in
    * O(log² n) rounds REGARDLESS of diameter — the upgrade path for
    * chain-shaped dup graphs (crawl mirror chains) where label
    * propagation's O(diameter) iteration count is the bottleneck.
    *
    * Scale shape per round: two groupBy(min) + join passes over the
    * edge list, all keys 8-byte ids; edges are localCheckpoint'd per
    * round so lineage stays O(1). Convergence = edge-set signature
    * (count + order-independent hash sum) stable across a round. */
  private[graft] def starContractionComponents(pairs: DataFrame,
      idA: String = "id_a", idB: String = "id_b"): DataFrame = {
    val par = pairs.sparkSession.sparkContext.defaultParallelism
    val raw = pairs
      .select(col(idA).cast("long").as("u"), col(idB).cast("long").as("v"))
    // nodes come from the PRE-filter pair list: an id that appears only
    // in self-pairs still belongs in the output (cluster_id = itself),
    // matching the label-propagation path's contract
    val nodes = raw.select(col("u").as("id"))
      .unionByName(raw.select(col("v").as("id")))
      .distinct().localCheckpoint()
    var e = raw
      .filter(col("u") =!= col("v"))
      .distinct()
      .repartition(par, col("u"))
      .localCheckpoint()

    // large-star: per node u, attach every neighbor v > u to
    // m(u) = min(neighborhood(u) ∪ {u})
    def largeStar(edges: DataFrame): DataFrame = {
      val bidir = edges.unionByName(
        edges.select(col("v").as("u"), col("u").as("v")))
      val mins = bidir.groupBy("u").agg(min("v").as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      bidir.join(mins, Seq("u"))
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
    }
    // small-star: direct edges downward (hi → lo); per node u, attach
    // u and all its lower neighbors to their minimum
    def smallStar(edges: DataFrame): DataFrame = {
      val dir = edges.select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      val mins = dir.groupBy("u").agg(min("v").as("m"))
      dir.join(mins, Seq("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .unionByName(mins.select(col("u"), col("m").as("v")))
        .filter(col("u") =!= col("v"))
        .distinct()
    }
    // order-independent multiset signature: stable signature across a
    // full round == fixed point (stars only)
    def sig(df: DataFrame): org.apache.spark.sql.Row =
      df.agg(count(lit(1)),
        sum(xxhash64(col("u"), col("v")).cast("decimal(38,0)"))).head()
    var stable = false
    var iter = 0
    val hardCap = 64 // ~log²(n) rounds; 64 covers any conceivable corpus
    // carry the previous round's signature instead of recomputing
    // sig(e) — it IS last round's sig(next); one convergence job per
    // round, not two
    var prevSig = sig(e)
    // rolling: fresh stats per round (see Graph.RollingCheckpoint) and
    // the previous round's edge blocks released as each round lands
    val roll = new Graph.RollingCheckpoint
    while (!stable && iter < hardCap) {
      // no repartition before the checkpoint: the rebuild
      // (createDataFrame over the checkpointed RDD) reports UNKNOWN
      // partitioning to Catalyst, so a pre-checkpoint repartition(u)
      // bought the next round nothing — its exchange was pure waste
      // (next round's groupBy re-shuffles regardless). Partition count
      // stays bounded: smallStar's union of two aggregated frames is
      // ≤ 2×shuffle.partitions per round, never compounding.
      val next = roll(smallStar(largeStar(e)))
      val nextSig = sig(next)
      stable = nextSig == prevSig
      prevSig = nextSig
      e = next
      iter += 1
    }
    require(stable, s"star contraction did not converge in $hardCap rounds")
    nodes.join(e.select(col("u").as("id"), col("v").as("root")),
        Seq("id"), "left")
      .select(col("id"), coalesce(col("root"), col("id")).as("cluster_id"))
  }

  /** Cluster-aware dedup: given documents and their near-dup pairs,
    * keep ONE document per connected component (the min id) and every
    * document that appears in no pair. The left-anti join drops the
    * non-canonical cluster members; its key is the 8-byte id, so the
    * 100 TB side's text never shuffles. */
  def keepCanonicalPerCluster(docs: DataFrame, pairs: DataFrame,
      idCol: String = "doc_id"): DataFrame = {
    val drop = connectedComponents(pairs)
      .filter(col("id") =!= col("cluster_id"))
      .select(col("id").as(idCol))
    docs.join(drop, Seq(idCol), "left_anti")
  }

  /** Cross-corpus near-dup pairs: MinHash-banded candidates between a
    * (small) incoming batch and the existing corpus — the INCREMENTAL
    * ingestion shape, where re-deduping the whole corpus per batch
    * would rescan 100 TB. Corpus band rows carry only (band, hash, id);
    * at scale the banded corpus is a PERSISTED table maintained
    * alongside the corpus, so a batch costs |batch|×bands probe rows
    * joined against it, never a corpus scan. Returns (id_new, id_old,
    * jaccard) pairs at/above the threshold. */
  def crossCorpusNearDupPairs(corpus: DataFrame, batch: DataFrame,
      textCol: String = "text", idCol: String = "doc_id",
      shingleSize: Int = 2, numHashes: Int = 32, bands: Int = 16,
      threshold: Double = 0.8): DataFrame = {
    val rows = numHashes / bands
    def banded(docs: DataFrame) = {
      val sh = docs.select(col(idCol).as("id"),
        wordShingles(col(textCol), shingleSize).as("sh"))
      (sh, sh.withColumn("sig", minHashSignature(col("sh"), numHashes))
        .select(col("id"),
          posexplode(transform(sequence(lit(0), lit(bands - 1)),
            b => hash(slice(col("sig"), b * rows + 1, lit(rows))))))
        .withColumnRenamed("pos", "band").withColumnRenamed("col", "bh"))
    }
    val (shNew, bNew) = banded(batch)
    val (shOld, bOld) = banded(corpus)
    val par = corpus.sparkSession.sparkContext.defaultParallelism
    val cand = bNew.select(col("band"), col("bh"), col("id").as("id_new"))
      .join(bOld.select(col("band"), col("bh"), col("id").as("id_old")),
        Seq("band", "bh"))
      .select("id_new", "id_old")
      .repartition(par, col("id_new"), col("id_old"))
      .dropDuplicates("id_new", "id_old")
    cand
      .join(shNew.select(col("id").as("id_new"), col("sh").as("sh_n")),
        Seq("id_new"))
      .join(shOld.select(col("id").as("id_old"), col("sh").as("sh_o")),
        Seq("id_old"))
      .select(col("id_new"), col("id_old"),
        jaccard(col("sh_n"), col("sh_o")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Incremental EMBEDDING dedup: rows of `batch` whose vector has no
    * cosine-near-duplicate in `corpus` — the vector-space twin of
    * [[dedupAgainstCorpus]] (SemDeDup applied at ingestion time, so a
    * paraphrased re-crawl never enters the corpus). Same
    * candidates-then-verify shape as [[embeddingNearDupPairs]], but
    * cross-corpus: multi-probe hyperplane buckets join batch ids to
    * corpus ids (ids + 8-byte buckets only — vectors stay out of the
    * candidate shuffle), one cosine verify per candidate pair, then a
    * left-anti on the (tiny) matched-id set. At 100 TB the corpus side
    * of the bucket join is a pre-computable signature table. */
  def embeddingDedupAgainstCorpus(corpus: DataFrame, batch: DataFrame,
      dim: Int = 64, planes: Int = 12, probes: Int = 4,
      threshold: Double = 0.95, vecCol: String = "embedding",
      idCol: String = "vec_id"): DataFrame = {
    val par = corpus.sparkSession.sparkContext.defaultParallelism
    def probed(df: DataFrame, side: String) =
      (0 until probes).map { p =>
        df.select(col(idCol).as(side),
          Similarity.hyperplaneSignature(col(vecCol), dim, planes,
            seed = 42L + p).as("bucket"))
          .withColumn("probe", lit(p))
      }.reduce(_ unionByName _)
    val cand = probed(batch, "id_new")
      .join(probed(corpus, "id_old"), Seq("probe", "bucket"))
      .select("id_new", "id_old")
      .repartition(par, col("id_new"), col("id_old"))
      .dropDuplicates("id_new", "id_old")
    val dupIds = cand
      .join(batch.select(col(idCol).as("id_new"), col(vecCol).as("v_n")),
        Seq("id_new"))
      .join(corpus.select(col(idCol).as("id_old"), col(vecCol).as("v_o")),
        Seq("id_old"))
      .filter(cosineSimilarity(col("v_n"), col("v_o")) >= threshold)
      .select(col("id_new").as(idCol)).distinct()
    batch.join(dupIds, Seq(idCol), "left_anti")
  }

  /** Incremental ingestion dedup: the rows of `batch` that survive
    * against the existing corpus — exact copies go by fingerprint
    * anti-join (16-byte keys), near-dups by
    * [[crossCorpusNearDupPairs]]; the batch is then self-deduped
    * exactly (first id wins) so one load can't insert twins. */
  def dedupAgainstCorpus(corpus: DataFrame, batch: DataFrame,
      textCol: String = "text", idCol: String = "doc_id",
      threshold: Double = 0.8): DataFrame = {
    val corpusFp = corpus.select(md5(col(textCol)).as("__fp")).distinct()
    val nearIds = crossCorpusNearDupPairs(corpus, batch, textCol, idCol,
      threshold = threshold).select(col("id_new").as(idCol)).distinct()
    exactDedup(batch, textCol, idCol)
      .join(corpusFp, md5(col(textCol)) === col("__fp"), "left_anti")
      .join(nearIds, Seq(idCol), "left_anti")
  }

  /** SemDeDup-style semantic dedup (Abbas et al. 2023, "SemDeDup: Data-
    * efficient learning at web-scale through semantic deduplication"):
    * k-means-cluster the embeddings, then within each cluster drop
    * every vector that has a LOWER-id cluster-mate with cosine at or
    * above `threshold` (greedy keep-first — same deterministic rule as
    * the other dedup ops). Catches semantically-identical documents
    * whose surface text differs (translations, paraphrases, templated
    * rewrites) that every token-level sketch misses.
    *
    * Scale shape — the pair count is BOUNDED end to end:
    *  1. exact-identical vectors collapse before pairing (window
    *     keep-first), so unsplittable identical mass never reaches the
    *     self-join;
    *  2. `nClusters < 0` (default) derives k from the corpus count
    *     (~1 cluster per 4096 vectors, the SemDeDup regime) instead of
    *     a fixed constant that would go quadratic at 100x the data;
    *  3. any cluster still larger than `maxClusterSize` is re-split by
    *     appended LSH sub-signature bits, capping EXPECTED bucket size
    *     at ~maxClusterSize — per-bucket pair work stays
    *     ~maxClusterSize² however skewed the k-means assignment is,
    *     while true near-dups survive the split w.p. (1-θ/π)^bits ≈ 1
    *     at dedup-grade thresholds;
    *  4. assignment is SOFT (top-`assignProbes` cells per vector, see
    *     [[Similarity.assignNearestK]]): hard assignment misses
    *     near-dup pairs that straddle a Voronoi boundary — observed
    *     live at sf0.1 before the fix.
    * The cluster exchange is an explicit-width repartition so AQE
    * can't serialize the cosine verify.
    *
    * @return the surviving rows of `embeddings` (canonical per
    *         semantic-dup group + everything unpaired). */
  /** SemDeDup's derived cluster count: ~1 cluster per 4096 vectors
    * (the within-cluster stage is O(size²), so k must scale with the
    * corpus), clamped to [32, 65536]. Shared with [[graft.ScaleProbe]]
    * so the probe measures the shipped formula. */
  private[graft] def derivedClusterCount(nVectors: Long): Int =
    math.max(32L, math.min(65536L, nVectors / 4096L + 1L)).toInt

  def semanticDedup(embeddings: DataFrame, nClusters: Int = -1,
      threshold: Double = 0.95, iters: Int = 3,
      sampleFraction: Double = 1.0, dim: Int = 64,
      maxClusterSize: Int = 4096, assignProbes: Int = 2,
      vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    val par = embeddings.sparkSession.sparkContext.defaultParallelism
    val vecs = embeddings.select(col(idCol).as("id"),
      Similarity.normalized(col(vecCol)).as("nv"))

    // 1. collapse exact-identical vectors first (keep min id): identical
    //    vectors defeat any similarity-based split (they share every
    //    LSH signature and every centroid), so they must never reach
    //    the pairwise stage — this is the backstop that keeps an
    //    identical-heavy corpus from re-creating the hot cluster the
    //    re-split below bounds.
    // keeper per identical vector via partial-aggregated groupBy +
    // anti-join on the unique compound key (nv, id) — NOT a row_number
    // window over nv: an identical-heavy corpus (the very case this
    // step guards against) would funnel every copy of one vector into
    // a single window task, while min(id) collapses hot vectors
    // map-side and no (nv, id) join bucket is ever hot. The
    // localCheckpoint pins the collapse so the k-means loop, the
    // assignment, and the final anti-join don't re-run it.
    // the rep COUNT (feeds the derived cluster count below) rides the
    // checkpoint's materialization as an observed metric — previously
    // a separate count() job over the checkpointed frame
    val repCount = org.apache.spark.sql.Observation()
    val reps = vecs.groupBy(col("nv")).agg(min(col("id")).as("id"))
      .select(col("id"), col("nv"))
      .repartition(par) // AQE would coalesce the tiny-by-bytes agg
                        // output to 1-2 partitions, serializing the
                        // CPU-bound assignment/pair stages downstream
      .observe(repCount, count(lit(1)).as("n"))
      .localCheckpoint()
    // ids are unique, so "not a keeper" needs only the id column —
    // an 8-byte-key anti-join against the checkpointed reps, instead
    // of re-shuffling the full vectors on (nv, id)
    val exactDrops = vecs.select(col("id"))
      .join(reps.select(col("id")), Seq("id"), "left_anti")

    // 2. cluster count ∝ corpus size when not given (SemDeDup scales
    //    its k with the corpus: the within-cluster stage is O(size²),
    //    so a FIXED k means quadratic blowup at 100x the data). One
    //    count() job; callers at known scale pass nClusters explicitly.
    val k =
      if (nClusters > 0) nClusters
      else derivedClusterCount(Checkpoints.metric(repCount, "n") match {
        case Some(n: Long) => n
        case _ => reps.count() // listener event lost: explicit count
      })
    val centroids = Similarity.kmeansCentroids(reps, k, iters,
      sampleFraction)
    // soft (top-assignProbes) assignment closes the Voronoi-boundary
    // blind spot: a near-identical pair straddling a cell boundary
    // would never meet under hard assignment; with top-2 cells per
    // vector the pair shares the runner-up cell. Candidate volume
    // scales by assignProbes (pairs still dedupe via the distinct on
    // drop ids).
    val assigned0 =
      if (assignProbes <= 1) Similarity.assignNearest(reps, centroids)
      else Similarity.assignNearestK(reps, centroids, assignProbes)

    // 3. re-split oversized clusters (see [[resplitOversized]])
    val assigned = resplitOversized(assigned0, maxClusterSize, dim)
      .repartition(par, col("bucket"))
      .localCheckpoint() // pin assignments; drop the lineage through
                         // the cached centroid loop before unpersist
    centroids.unpersist()
    val a = assigned.select(col("bucket"), col("id").as("id_a"),
      col("nv").as("nv_a"))
    val b = assigned.select(col("bucket"), col("id").as("id_b"),
      col("nv").as("nv_b"))
    // unit vectors → dot product IS cosine; one fused-kernel pass/pair
    // pin the (tiny) drop-id set: the final anti-join pushes into the
    // caller's input union, which would otherwise recompute the whole
    // pair pipeline once per union branch
    val drops = a.join(b, Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .filter(dotProduct(col("nv_a"), col("nv_b")) >= threshold)
      .select(col("id_b").as(idCol))
      .unionByName(exactDrops.select(col("id").as(idCol)))
      .distinct()
      .localCheckpoint()
    embeddings.join(drops, Seq(idCol), "left_anti")
  }

  /** Re-split oversized clusters by a 16-plane LSH sub-signature: a
    * cluster of size s > maxClusterSize gets ceil(log2(s/cap))
    * signature bits appended to its bucket key, so EXPECTED bucket
    * size drops to ~maxClusterSize and the per-bucket pair count stays
    * ~maxClusterSize² regardless of how skewed the k-means assignment
    * is. True near-dups survive the split with probability
    * (1-θ/π)^bits — ≈1 at dedup-grade thresholds (θ→0). Identical
    * vectors are unsplittable (equal signatures) and must be collapsed
    * BEFORE this step (semanticDedup step 1).
    * Input/output schema: (id, nv, bucket). */
  private[graft] def resplitOversized(assigned: DataFrame,
      maxClusterSize: Int, dim: Int): DataFrame = {
    val sizes = assigned.groupBy("bucket")
      .agg(count(lit(1)).as("__sz"))
      .filter(col("__sz") > maxClusterSize)
      .select(col("bucket"),
        ceil(log2(col("__sz").cast("double") / maxClusterSize))
          .cast("int").as("__p"))
    assigned
      .join(broadcast(sizes), Seq("bucket"), "left")
      .withColumn("__sub",
        when(col("__p").isNull, lit(0L))
          .otherwise(Similarity.hyperplaneSignature(col("nv"), dim,
              planes = 16, seed = 7L)
            .bitwiseAND(expr("shiftleft(CAST(1 AS BIGINT), least(__p, 16)) - 1"))))
      .withColumn("bucket", col("bucket") * 65536L + col("__sub"))
      .drop("__p", "__sub")
  }

  /** Embedding near-dup pairs: cosine similarity above threshold among
    * candidates sharing ANY of `probes` independent hyperplane-LSH
    * buckets (multi-probe banding — a single 12-plane signature catches
    * only ~57% of pairs even at cos 0.99; four independent signatures
    * lift recall to ~97%). Candidates-then-verify shape: the bucket
    * join carries ids only, pairs dedupe across probes, vectors join
    * back once per side for one cosine per pair. */
  def embeddingNearDupPairs(embeddings: DataFrame,
      vecCol: String = "embedding", idCol: String = "vec_id",
      dim: Int = 64, planes: Int = 12, probes: Int = 4,
      threshold: Double = 0.95, maxBucket: Int = 64): DataFrame = {
    val vecs = embeddings.select(col(idCol).as("id"), col(vecCol).as("v"))
    val probed = (0 until probes).map { p =>
      embeddings.select(col(idCol).as("id"),
        Similarity.hyperplaneSignature(col(vecCol), dim, planes,
          seed = 42L + p).as("bucket"),
        Similarity.hyperplaneSignature(col(vecCol), dim, planes = 16,
          seed = 9000L + p).as("sub"))
        .withColumn("probe", lit(p))
    }.reduce(_ unionByName _)
    // spillable bucket-mate pairing (see Similarity.bucketMatePairs):
    // signatures computed once into a checkpoint of ~28 B rows, then a
    // sort-merge self-join — never a naive self-join (signs the corpus
    // twice) nor a collect_list aggregation (non-spillable buffers).
    // cap = the occupancy guard: pairs stay O(n·cap·probes) even if
    // `planes` is undersized for the corpus (near pairs keep equal sub
    // bits, so threshold-grade recall is untouched)
    Similarity.bucketMatePairs(probed, ordered = false, cap = maxBucket)
      .join(vecs.select(col("id").as("id_a"), col("v").as("v_a")), Seq("id_a"))
      .join(vecs.select(col("id").as("id_b"), col("v").as("v_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        cosineSimilarity(col("v_a"), col("v_b")).as("cos"))
      .filter(col("cos") >= threshold)
  }
}
