package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions._

/** Text-analysis operators for LLM training-data pipelines
  * (driver-mandated extension, SURVEY.md §7E).
  *
  * All operators are pure column expressions (whole-stage codegen'd,
  * no UDFs) so they scan-parallelize to any cluster size: a 100 TB
  * documents table maps straight through these projections with zero
  * shuffles.
  */
object TextOps {

  /** Token statistics: char lengths, whitespace tokens, word tokens.
    * Counts surface as LONG — at 100 TB per-corpus aggregates of these
    * columns overflow INT, and it matches external engines' BIGINT. */
  def tokenStats(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.select(
      col("doc_id"),
      length(col(textCol)).cast("long").as("len_chars"),
      wsTokenCount(col(textCol)).cast("long").as("ws_tokens"),
      size(wordTokens(col(textCol))).cast("long").as("word_cnt"),
      size(array_distinct(wordTokens(col(textCol)))).cast("long")
        .as("uniq_word_cnt"))

  /** Quality scoring: length, punctuation density, stopword ratio,
    * lexical diversity. Heuristics follow public data-cleaning practice
    * (C4/Gopher-style rules) expressed as deterministic SQL. */
  def qualityScore(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val words = size(wordTokens(col(textCol)))
    val uniq = size(array_distinct(wordTokens(col(textCol))))
    val stops = stopwordCount(col(textCol))
    val punct = size(regexp_extract_all(col(textCol),
      lit("[.,;:!?]"), lit(0)))
    val safeWords = when(words === 0, 1).otherwise(words)
    docs.select(
      col("doc_id"),
      words.cast("long").as("word_cnt"),
      stops.cast("long").as("stop_cnt"),
      punct.cast("long").as("punct_cnt"),
      (stops.cast("double") / safeWords.cast("double")).as("stop_ratio"),
      (uniq.cast("double") / safeWords.cast("double")).as("diversity"),
      passesQualityCol(col(textCol)).as("passes_quality"))
  }

  /** Language-ID heuristic: stopword density + non-ASCII density decide
    * between 'en' and 'other'. (N-gram models need training data the
    * container lacks; the heuristic is the deterministic, oracle-checkable
    * core and extends to per-language stopword lists.) */
  def langId(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val words = size(wordTokens(col(textCol)))
    val stops = stopwordCount(col(textCol))
    val nonAscii = size(regexp_extract_all(col(textCol),
      lit("[^\\x00-\\x7F]"), lit(0)))
    val safeWords = when(words === 0, 1).otherwise(words)
    docs.select(
      col("doc_id"), words.cast("long").as("word_cnt"),
      stops.cast("long").as("stop_cnt"),
      nonAscii.cast("long").as("non_ascii_cnt"),
      predLangCol(col(textCol)).as("pred_lang"))
  }

  /** BPE-style pre-tokenizer count: the GPT-2 pre-tokenization
    * pattern family (contractions, letter runs, digit runs, punct
    * runs, whitespace) restricted to RE2-compatible syntax (no
    * lookahead) so external engines can evaluate the IDENTICAL
    * pattern. This is the practical "how many tokens will the BPE
    * merge step see" estimator a corpus-budgeting pipeline runs at
    * scale — a pure projection, one regex pass per row. */
  val bpePretokenPattern: String =
    "'(?:s|t|re|ve|m|ll|d)| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+"

  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit(bpePretokenPattern), lit(0)))

  /** Per-document BPE-ish token budget next to the exact char/word
    * counts ([[tokenStats]] keeps its original narrower schema). */
  def tokenBudget(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.select(
      col("doc_id"),
      length(col(textCol)).cast("long").as("len_chars"),
      bpeTokenCount(col(textCol)).cast("long").as("bpe_tokens"),
      when(length(col(textCol)) === 0, 0.0)
        .otherwise(length(col(textCol)).cast("double") /
          greatest(bpeTokenCount(col(textCol)), lit(1)).cast("double"))
        .as("chars_per_token"))

  /** The quality-gate predicate shared by [[qualityScore]] and
    * [[cleanCorpus]]. */
  private[operators] def passesQualityCol(textCol: Column): Column = {
    val words = size(wordTokens(textCol))
    val safeWords = when(words === 0, 1).otherwise(words)
    words >= 5 &&
      (stopwordCount(textCol).cast("double") /
        safeWords.cast("double")) > 0.01
  }

  /** The language prediction shared by [[langId]] and [[cleanCorpus]]. */
  private[operators] def predLangCol(textCol: Column): Column = {
    val words = size(wordTokens(textCol))
    val safeWords = when(words === 0, 1).otherwise(words)
    val nonAscii = size(regexp_extract_all(textCol,
      lit("[^\\x00-\\x7F]"), lit(0)))
    when(nonAscii > 0, "other")
      .when(stopwordCount(textCol).cast("double") /
        safeWords.cast("double") > 0.02, "en")
      .otherwise("unknown")
  }

  /** End-to-end corpus cleaning — the composed pipeline a training-data
    * job actually runs: quality gate → language filter → exact dedup
    * keeping the smallest doc_id per identical text. Plan shape: the
    * gates are pure filters fused into the scan (no shuffle, no join —
    * the predicates re-derive the same expressions the per-doc scoring
    * operators project), so the whole pipeline costs exactly ONE
    * shuffle: the dedup's 16-byte-fingerprint exchange. */
  def cleanCorpus(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", keepLang: String = "en"): DataFrame =
    Dedup.exactDedup(
      docs.filter(passesQualityCol(col(textCol)) &&
        predLangCol(col(textCol)) === keepLang),
      textCol, idCol)

  /** Content fingerprint (md5) — the exact-dedup key; plus a 16-byte
    * binary form for compact storage at scale. */
  def fingerprint(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.select(col("doc_id"), md5(col(textCol)).as("fp"),
      unhex(md5(col(textCol))).as("fp_bin"))

  /** Benchmark decontamination: flag documents sharing any word
    * `k`-shingle with an evaluation/benchmark set, with the overlap
    * count as evidence (the standard pre-training hygiene step — eval
    * questions leaking into the corpus inflate downstream scores).
    *
    * Scale shape: the benchmark's distinct shingle set is small (eval
    * suites are MBs, corpora are TBs) → broadcast it; the corpus side
    * is an explode + broadcast-hash semi-ish join + one groupBy on
    * doc_id, so the 100 TB side never shuffles its text — only
    * (doc_id, matched-shingle) pairs reach the aggregation. */
  def contaminationFlags(docs: DataFrame, bench: DataFrame,
      textCol: String = "text", idCol: String = "doc_id",
      k: Int = 3): DataFrame = {
    val dSh = docs.select(col(idCol).as("doc_id"),
      explode(Dedup.wordShingles(col(textCol), k)).as("sh"))
    val bSh = bench
      .select(explode(Dedup.wordShingles(col(textCol), k)).as("sh"))
      .distinct()
    dSh.join(broadcast(bSh), Seq("sh"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_overlap"))
  }

  /** Fixed-size token-window chunking with overlap — the step that
    * turns variable-length documents into training-sequence-sized
    * pieces. Chunk i covers whitespace tokens [i*stride, i*stride +
    * chunkTokens); stride = chunkTokens - overlap, and the chunk count
    * is the minimum covering the whole document (always >= 1, so empty
    * docs still yield one row and no data silently vanishes).
    *
    * Scale shape: split + generator expression + posexplode — a pure
    * map-side row expansion, no shuffle; a 100 TB corpus chunks at
    * scan speed and downstream ops see (doc_id, chunk_id) keyed rows. */
  def chunkDocuments(docs: DataFrame, chunkTokens: Int, overlap: Int,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(overlap >= 0 && overlap < chunkTokens,
      s"need 0 <= overlap < chunkTokens, got $overlap/$chunkTokens")
    val stride = chunkTokens - overlap
    // native kernel ([[graft.functions.TokenChunks]]): the
    // transform/slice lambda form re-evaluated the split per chunk
    // (O(chunks × tokens) per row) after projection collapse
    docs.select(col(idCol), posexplode(
        graft.functions.TokenChunks.tokenChunks(
          split(col(textCol), " "), chunkTokens, stride)))
      .withColumnRenamed("pos", "chunk_id")
      .withColumnRenamed("col", "chunk_text")
      .withColumn("n_tokens",
        size(split(col("chunk_text"), " ")).cast("long"))
  }

  /** PII scrubbing: URLs, emails, then long digit runs are replaced by
    * typed placeholder tags, with per-document match counts kept as
    * redaction evidence. RE2-compatible patterns (no lookarounds) so
    * external engines apply the IDENTICAL rules; application order is
    * part of the contract (URL first — emails inside URLs are one URL,
    * not an email). Pure projection: zero shuffles at any corpus
    * size. */
  val urlPattern = "https?://[^ ]+"
  val emailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val longNumPattern = "[0-9]{7,}"

  def scrubPii(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val t0 = col(textCol)
    val t1 = regexp_replace(t0, urlPattern, "<URL>")
    val t2 = regexp_replace(t1, emailPattern, "<EMAIL>")
    val t3 = regexp_replace(t2, longNumPattern, "<NUM>")
    docs.select(col(idCol),
      size(regexp_extract_all(t0, lit(urlPattern), lit(0)))
        .cast("long").as("n_urls"),
      size(regexp_extract_all(t1, lit(emailPattern), lit(0)))
        .cast("long").as("n_emails"),
      size(regexp_extract_all(t2, lit(longNumPattern), lit(0)))
        .cast("long").as("n_long_nums"),
      t3.as("clean_text"))
  }

  /** Corpus vocabulary: the `topN` most frequent lowercase word tokens
    * with document frequency — the vocab-building scan every tokenizer
    * training run starts from. explode → two-level aggregate; the
    * partial (map-side) count collapses each partition's token
    * multiset before the shuffle, so the exchange carries one row per
    * distinct token per partition, not one per occurrence. Final top-N
    * via TakeOrderedAndProject (no global sort). */
  def vocabulary(docs: DataFrame, topN: Int,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    docs.select(col(idCol), explode(wordTokens(col(textCol))).as("token"))
      .groupBy("token")
      .agg(count(lit(1)).as("tf"),
        countDistinct(col(idCol)).as("df"))
      .orderBy(desc("tf"), asc("token"))
      .limit(topN)

  /** Per-document distinctive terms: top-`k` tokens by a tf-idf-style
    * score. The score is `tf * N / df` — the idf's log is monotone, so
    * the RANKING is identical to classic tf-idf, while the score stays
    * one integer product + one IEEE division (bitwise-reproducible in
    * any engine; `log` implementations are not).
    *
    * Scale shape: explode → (doc,token) partial-agg'd count, token df
    * by a second narrow agg, corpus size broadcast as a 1-row frame —
    * the only per-occurrence shuffle carries (doc_id, token) pairs.
    * Per-doc top-k via window row_number (bounded state per doc). */
  def distinctiveTerms(docs: DataFrame, k: Int,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val tf = docs
      .select(col(idCol), explode(wordTokens(col(textCol))).as("token"))
      .groupBy(idCol, "token").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(idCol).orderBy(desc("score"), asc("token"))
    tf.join(df, Seq("token"))
      .crossJoin(broadcast(n))
      .withColumn("score",
        (col("tf") * col("n_docs")).cast("double") / col("df").cast("double"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .select(col(idCol), col("token"), col("tf"), col("df"), col("score"))
  }

  /** Gopher-style repetition statistics: per-document word-bigram
    * duplication signals. High `top_bigram_frac` (one bigram dominates)
    * or `dup_bigram_frac` (most bigram mass occurs more than once)
    * marks boilerplate / keyword-stuffed / looping text — the standard
    * repetition filters a pre-training curation pass applies after the
    * length/stopword gates.
    *
    * Scale shape: MAP-ONLY. The statistics are document-local, so the
    * native [[graft.functions.BigramStats]] kernel computes the whole
    * struct in one pass with a per-row local count map — zero shuffle
    * whatever the corpus size. (The previous declarative form exploded
    * the bigram multiset through two aggregates: a per-OCCURRENCE
    * shuffle keyed by (doc_id, bigram) that dominated the pipeline.) */
  def repetitionStats(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val w = wordTokens(col(textCol))
    docs.select(col(idCol), size(w).cast("long").as("n_tokens"),
        graft.functions.BigramStats.bigramStats(w).as("__st"))
      .select(col(idCol), col("n_tokens"),
        col("__st.n_bigrams").as("n_bigrams"),
        col("__st.top_cnt").as("top_cnt"),
        col("__st.dup_cnt").as("dup_cnt"),
        when(col("__st.n_bigrams") === 0, 0.0)
          .otherwise(col("__st.top_cnt").cast("double") /
            col("__st.n_bigrams").cast("double")).as("top_bigram_frac"),
        when(col("__st.n_bigrams") === 0, 0.0)
          .otherwise(col("__st.dup_cnt").cast("double") /
            col("__st.n_bigrams").cast("double")).as("dup_bigram_frac"))
  }

  /** Mitchell's piecewise-linear log2 of a positive BIGINT, in 1/1024
    * units (Mitchell 1962, "Computer Multiplication and Division Using
    * Binary Logarithms"): floor(log2 x) from the binary-string length,
    * plus a 10-bit linear mantissa. Every step is integer-exact —
    * `bin()` length, multiplication below 2^52, division by a power of
    * two (an IEEE exponent shift, lossless) — so the value is
    * bitwise-identical in any engine, unlike floating `ln`, whose
    * last-bit rounding is implementation-defined. Max error of the
    * approximation is ~0.086 bits, irrelevant for quality ranking. */
  private def mitchellLog2Q1024(x: Column): Column = {
    val k = (length(bin(x)) - 1).cast("long")
    val mant = floor(x.cast("double") * 1024d /
      pow(lit(2.0), k.cast("double"))).cast("long") - 1024L
    k * 1024L + mant
  }

  /** Mitchell-log2 of 1e9 in q1024 units (k=29, mantissa 883) — the
    * scale constant that turns a 1e-9-units probability into NLL. */
  private val Log2OneE9Q1024 = 30579L

  /** CCNet-style n-gram language-model quality scoring (Wenzek et al.
    * 2020 score documents with a KenLM trained on a reference corpus;
    * this is the same pipeline shape with a distributed add-one bigram
    * LM): train on `train`, score every document of `docs` with its
    * negative log-likelihood — high NLL per bigram = out-of-domain or
    * low-fluency text, the standard corpus-filtering signal.
    *
    * Engine-exact by construction: the smoothed probability
    * (c12+1)/(c1+V) is scaled to 1e-9 units by BIGINT division, and the
    * log2 is [[mitchellLog2Q1024]] — no floating `ln` anywhere, so the
    * DuckDB oracle reproduces every bit (same determinism discipline as
    * [[distinctiveTerms]] / [[bm25TopK]]).
    *
    * Scale shape: bigram/context counts are two narrow
    * partially-aggregated shuffles over the train split; scoring
    * re-aggregates per-doc bigram tf BEFORE joining the count tables,
    * so the join input carries one row per distinct (doc, bigram) and
    * the count tables behave like dimensions (AQE broadcasts them for
    * small vocabularies; at web scale they shuffle-join on the bigram
    * key, near-uniform by construction). Docs with <2 tokens surface
    * with all-zero scores via the final left join. */
  def ngramLmScore(docs: DataFrame, train: DataFrame,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    // token arrays materialized as real columns first: slice/zip_with
    // over a computed child would re-run the tokenizer regex per branch
    val tokDocs = docs.select(col(idCol).as("__id"),
      wordTokens(col(textCol)).as("__w"))
    val tokTrain = train.select(wordTokens(col(textCol)).as("__w"))
    def bgs(w: Column): Column = when(size(w) >= 2,
      zip_with(slice(w, lit(1), size(w) - 1), slice(w, lit(2), size(w) - 1),
        (a, b) => concat(a, lit(" "), b)))
      .otherwise(array().cast("array<string>"))

    val c12 = tokTrain.select(explode(bgs(col("__w"))).as("bg"))
      .groupBy("bg").agg(count(lit(1)).as("c12"))
    val c1 = c12
      .groupBy(substring_index(col("bg"), " ", 1).as("w1"))
      .agg(sum(col("c12")).as("c1"))
    val vstats = tokTrain.select(explode(col("__w")).as("t"))
      .agg(countDistinct(col("t")).as("v"))

    val db = tokDocs.select(col("__id"), explode(bgs(col("__w"))).as("bg"))
      .groupBy("__id", "bg").agg(count(lit(1)).as("tf"))
      .withColumn("w1", substring_index(col("bg"), " ", 1))

    // greatest(..,1): a corpus past ~1e9 train tokens can floor an
    // unseen bigram's scaled probability to 0; clamp so log2 stays
    // defined (the NLL saturates at the 1e-9 quantization floor).
    // The numerator guard THROWS before the long multiply can wrap
    // (c12 past ~9.2e9 under non-ANSI arithmetic would otherwise
    // silently invert the score of the corpus's most fluent bigram —
    // same overflow discipline as pageRankExact/katzCentralityExact).
    val scored = db
      .join(c12, Seq("bg"), "left")
      .join(c1, Seq("w1"), "left")
      .crossJoin(broadcast(vstats))
      .withColumn("__pq", greatest(
        expr("""(1000000000L * (CASE WHEN coalesce(c12, 0L) > 9000000000L
                  THEN raise_error('ngramLmScore: bigram count past the
 1e-9-quantization long range; rescale the probability unit')
                  ELSE coalesce(c12, 0L) END + 1L))
                div (coalesce(c1, 0L) + v)"""),
        lit(1L)))
      .withColumn("__nll",
        (lit(Log2OneE9Q1024) - mitchellLog2Q1024(col("__pq"))) * col("tf"))
      .groupBy("__id")
      .agg(sum(col("tf")).as("n_bigrams"),
        sum(when(col("c12").isNull, col("tf")).otherwise(0L))
          .as("oov_bigrams"),
        sum(col("__nll")).as("nll_q1024"))

    tokDocs.select(col("__id"))
      .join(scored, Seq("__id"), "left")
      .select(col("__id").as(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("oov_bigrams"), lit(0L)).as("oov_bigrams"),
        coalesce(col("nll_q1024"), lit(0L)).as("nll_q1024"))
  }

  /** BM25 keyword retrieval: top-`k` documents for a fixed bag of query
    * terms, scored with the log-free BM25 variant
    * `idf = (N - df + 0.5) / (df + 0.5)` (same ranking family as
    * Robertson's idf without the engine-specific `ln`, so the score is
    * pure integer-derived IEEE arithmetic — bitwise-reproducible in any
    * engine that evaluates the same expression).
    *
    * Determinism detail: per-document scores for the (few) query terms
    * are pivoted into FIXED-ORDER columns and added left-to-right —
    * a `sum()` aggregate over the term rows would make the result
    * depend on float addition order.
    *
    * Scale shape: the exploded token stream filters to the query terms
    * BEFORE any shuffle (a 100 TB corpus reduces to rows-that-match),
    * doc lengths join on doc_id, the df/N sides are 1-to-3-row
    * broadcast frames, and the final cut is TakeOrdered — no global
    * sort. */
  def bm25TopK(docs: DataFrame, terms: Seq[String], k: Int,
      k1: Double = 1.2, b: Double = 0.75,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(terms.nonEmpty, "bm25TopK needs at least one query term")
    val w = wordTokens(col(textCol))
    val base = docs.select(col(idCol), w.as("__w"))
    val dl = base.select(col(idCol), size(col("__w")).cast("long").as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
    val tf = base.select(col(idCol), explode(col("__w")).as("token"))
      .filter(col("token").isin(terms: _*))
      .groupBy(col(idCol), col("token")).agg(count(lit(1)).as("tf"))
    bm25FromPostings(tf, dl, stats, terms, k, k1, b, idCol)
  }

  /** The BM25 scoring tail shared by the corpus-scan path
    * ([[bm25TopK]]) and the inverted-index path ([[bm25TopKIndexed]]):
    * identical arithmetic in identical order, so both paths are
    * bit-equal and check against the same oracle. `tf` is
    * (idCol, token, tf) already restricted to the query terms. */
  private def bm25FromPostings(tf: DataFrame, dl: DataFrame,
      stats: DataFrame, terms: Seq[String], k: Int,
      k1: Double, b: Double, idCol: String): DataFrame = {
    val dft = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val nd = col("n_docs").cast("double")
    val scored = tf
      .join(dl, Seq(idCol))
      .join(broadcast(dft), Seq("token"))
      .crossJoin(broadcast(stats))
      .withColumn("__s",
        (nd - col("df").cast("double") + 0.5) / (col("df").cast("double") + 0.5) *
          (col("tf").cast("double") * lit(k1 + 1.0)) /
          (col("tf").cast("double") + lit(k1) * (lit(1.0 - b) +
            lit(b) * col("dl").cast("double") /
              (col("sum_dl").cast("double") / nd))))
    val pivoted = scored.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_terms"),
        terms.map(t =>
          max(when(col("token") === t, col("__s"))).as(s"__s_$t")): _*)
    val score = terms.map(t => coalesce(col(s"__s_$t"), lit(0.0)))
      .reduceLeft(_ + _)
    pivoted.select(col(idCol), col("n_terms"), score.as("score"))
      .orderBy(desc("score"), col(idCol))
      .limit(k)
  }

  /** The inverted index's maintained tables: its rebuild and its
    * compaction derive the overlay from this one list
    * ([[Segments.dropOverlay]]). */
  private val Bm25Tables = Seq("postings", "doclen")

  /** Persist an inverted index: term-sharded postings
    * (`postings/shard=S/` holding (doc_id, token, tf)), doc lengths,
    * and 1-row corpus stats. A term lookup then reads ONLY its shard
    * directories (partition-pruned) instead of scanning the corpus —
    * the posting-list retrieval move every search engine makes, laid
    * out lake-style. Build is one tokenize+explode pass: the postings
    * agg shuffles on (doc, token), the shard write repartitions on the
    * shard key so each shard is one file per task set, and doc
    * lengths/stats ride the same tokenized base. Rebuild to refresh
    * (same policy as the IVF base index). */
  def buildInvertedIndex(docs: DataFrame, indexDir: String,
      shards: Int = 64, textCol: String = "text",
      idCol: String = "doc_id"): Unit = {
    // rebuild = new truth: drop the completion marker first, finish
    // any crashed compaction swap, discard the old maintenance
    // overlay (stale tombstones/deltas re-applied over a fresh base
    // would silently erase freshly indexed docs)
    Similarity.resetForRebuild(indexDir, "invidx", Bm25Tables)
    val spark = docs.sparkSession
    // ONE tokenize pass over the corpus text (the earlier shape ran
    // three — doclen, stats, and postings each re-derived the
    // tokenize from source, tripling the text scan a 100 TB build is
    // bound by): postings land first, then doc lengths are the
    // per-doc tf sum of the WRITTEN postings (sum(tf) == token count
    // by construction), and corpus stats aggregate the written doc
    // lengths. Only the id column is re-read from the corpus (a
    // column-pruned scan, no text bytes) to restore zero-token docs,
    // which have no postings rows but must still count in n_docs.
    graft.Engine.label(spark, "bm25 build: postings write")(
      Similarity.writePartitionedBase(
        docs.select(col(idCol), explode(wordTokens(col(textCol))).as("token"))
          .groupBy(col(idCol), col("token")).agg(count(lit(1)).as("tf"))
          .withColumn("shard",
            pmod(xxhash64(col("token")), lit(shards.toLong)))
          .repartition(col("shard")),
        "shard", s"$indexDir/postings"))
    // the corpus stats (n_docs, sum_dl) RIDE the doclen write as
    // observed metrics and land from the driver — the previous shape
    // (localCheckpoint + write + separate stats-agg job) scheduled two
    // extra jobs per build on what is a lifecycle-constant-bound
    // operation at any corpus size
    val dl = docs.select(col(idCol))
      .join(Segments.read(spark, s"$indexDir/postings")
          .groupBy(col(idCol)).agg(sum(col("tf")).as("__dl")),
        Seq(idCol), "left")
      .select(col(idCol), coalesce(col("__dl"), lit(0L))
        .cast("long").as("dl"))
    graft.Engine.label(spark, "bm25 build: doclen+stats")(
      writeDoclenWithStats(spark, dl, s"$indexDir/doclen",
        s"$indexDir/stats"))
    Similarity.markBuilt(indexDir, "invidx")
  }

  /** Write a doclen frame and its 1-row corpus stats with ONE scan:
    * (n_docs, sum_dl) ride the doclen write job as observed metrics;
    * the stats parquet is then written from the driver-held values
    * (a 1-row local-relation job — no second pass over doclen). The
    * metric fallback (lost listener event) recomputes explicitly from
    * the just-written parquet, never hangs. */
  private def writeDoclenWithStats(
      spark: org.apache.spark.sql.SparkSession, dl: DataFrame,
      doclenPath: String, statsPath: String): Unit = {
    val obs = org.apache.spark.sql.Observation()
    dl.observe(obs, count(lit(1)).as("n_docs"),
        sum(col("dl")).as("sum_dl"))
      .write.mode("overwrite").parquet(doclenPath)
    val statsDf = (Checkpoints.metric(obs, "n_docs"),
        Checkpoints.metric(obs, "sum_dl")) match {
      case (Some(n: Long), Some(s)) =>
        import spark.implicits._
        // sum over zero rows observes NULL; stats must store 0
        Seq((n, Option(s).map(String.valueOf(_).toLong).getOrElse(0L)))
          .toDF("n_docs", "sum_dl")
      case _ => // listener event lost: explicit job, never hang
        Segments.read(spark, doclenPath)
          .agg(count(lit(1)).as("n_docs"),
            coalesce(sum(col("dl")), lit(0L)).as("sum_dl"))
    }
    statsDf.write.mode("overwrite").parquet(statsPath)
  }

  /** BM25 top-k answered FROM the persisted inverted index: reads the
    * query terms' shard partitions only (plan-pinned partition
    * pruning), never the corpus — identical results to [[bm25TopK]]
    * by construction (shared scoring tail). A maintained index
    * ([[invertedIndexUpsert]]) resolves tombstones on read and
    * recomputes the 1-row corpus stats from the live doc lengths; a
    * never-maintained index takes the raw path with zero overlay
    * cost. */
  def bm25TopKIndexed(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, terms: Seq[String], k: Int,
      k1: Double = 1.2, b: Double = 0.75, shards: Int = 64,
      idCol: String = "doc_id"): DataFrame = {
    require(terms.nonEmpty, "bm25TopKIndexed needs at least one query term")
    // the terms' shard ids, evaluated DRIVER-SIDE through the very
    // expression class executors run (interpreted XxHash64.eval —
    // agreement by construction); the previous spark.range(1) form
    // scheduled a whole job per probe just to hash a handful of
    // literals
    val shardIds = terms.map { t =>
      val h = org.apache.spark.sql.catalyst.expressions.XxHash64(Seq(
        org.apache.spark.sql.catalyst.expressions.Literal(
          org.apache.spark.unsafe.types.UTF8String.fromString(t),
          org.apache.spark.sql.types.StringType)),
        42L) // the SQL function's fixed seed (XxHash64's default)
        .eval(null).asInstanceOf[Long]
      ((h % shards) + shards) % shards // pmod
    }.distinct
    val maintained = new java.io.File(s"$indexDir/_maint").exists()
    val tf = Segments
      .resolveDeltaTable(spark, indexDir, s"$indexDir/postings", idCol)
      .filter(col("shard").isin(shardIds: _*) &&
        col("token").isin(terms: _*))
      .select(col(idCol), col("token"), col("tf"))
    val dl = Segments
      .resolveDeltaTable(spark, indexDir, s"$indexDir/doclen", idCol)
      .select(col(idCol), col("dl"))
    val stats =
      if (!maintained) Segments.read(spark, s"$indexDir/stats")
      else dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
    bm25FromPostings(tf, dl, stats, terms, k, k1, b, idCol)
  }

  /** Incrementally maintain the inverted index from a document change
    * feed — the same CDC lifecycle AND crash-idempotence protocol as
    * the IVF index ([[graft.operators.Similarity.ivfUpsert]]):
    * `changes` carries the document columns plus `change` ∈
    * insert|delete (an update is its delete+insert pair). Inserts
    * tokenize ONLY the changed documents and land sharded postings +
    * doc-length rows as one [[Segments.commitBatch]]
    * (overwrite-idempotent under at-least-once redelivery); every
    * changed id becomes an (id, seq) tombstone resolved at query time
    * by last-writer-wins (the batch's own inserts survive their
    * tombstone via `tseq <= seq`).
    * [[invertedIndexCompact]] physically reclaims. Returns the batch
    * seq. */
  def invertedIndexUpsert(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, changes: DataFrame, shards: Int = 64,
      textCol: String = "text", idCol: String = "doc_id",
      changeCol: String = "change"): Long = {
    val ins = changes.filter(col(changeCol) === "insert")
    // One tokenize pass, like the build: doclen rows derive from the
    // WRITTEN postings delta (+ an id-only re-read for zero-token
    // inserts) instead of re-tokenizing the batch.
    Segments.commitBatch(indexDir, changes, idCol) { seq =>
      val postingsDelta = Segments.deltaDir(s"$indexDir/postings", seq)
      graft.Engine.label(spark, "bm25 upsert: postings delta")(
        ins.select(col(idCol),
            explode(wordTokens(col(textCol))).as("token"))
          .groupBy(col(idCol), col("token")).agg(count(lit(1)).as("tf"))
          .withColumn("shard",
            pmod(xxhash64(col("token")), lit(shards.toLong)))
          .repartition(col("shard"))
          .write.mode("overwrite").partitionBy("shard")
          .parquet(postingsDelta))
      // an empty/all-zero-token batch writes NO parquet into the delta
      // dir (delta dirs get no schema backstop by design) — skip the
      // readback and stamp dl=0 directly
      val dlRows =
        if (Segments.hasParquetFile(postingsDelta))
          ins.select(col(idCol))
            .join(Segments.read(spark, postingsDelta)
                .groupBy(col(idCol)).agg(sum(col("tf")).as("__dl")),
              Seq(idCol), "left")
            .select(col(idCol), coalesce(col("__dl"), lit(0L))
              .cast("long").as("dl"))
        else ins.select(col(idCol), lit(0L).as("dl"))
      graft.Engine.label(spark, "bm25 upsert: doclen delta")(
        dlRows.write.mode("overwrite")
          .parquet(Segments.deltaDir(s"$indexDir/doclen", seq)))
    }
  }

  /** Physically reclaim tombstoned index rows: rewrite the live
    * postings and doc lengths as a fresh base, refresh the stored
    * stats, clear the maintenance state.
    *
    * Crash-ordering (same argument as
    * [[graft.operators.Similarity.ivfCompact]]): each table is replaced
    * by [[Segments.replace]] while the full overlay (tombstones + BOTH
    * deltas) is still on disk, over which the resolve re-applies
    * idempotently — so a crash between the two replacements leaves one
    * table compacted and the other not, both reading correctly. Stats
    * are rewritten before [[Segments.dropOverlay]] removes `_maint` —
    * while `_maint` exists the query path recomputes stats live, so
    * the stored file is only read after the switch. */
  def invertedIndexCompact(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, idCol: String = "doc_id"): Unit = {
    def live(table: String) =
      Segments.resolveDeltaTable(spark, indexDir, s"$indexDir/$table", idCol)
    Segments.replace(s"$indexDir/postings") { staged =>
      graft.Engine.label(spark, "bm25 compact: postings rewrite")(
        Similarity.writePartitionedBase(live("postings"), "shard", staged))
    }
    // the doclen rewrite carries the stats refresh as observed metrics
    // on its staged-write job (writeDoclenWithStats — one scan, no
    // checkpoint job, no read-back job)
    Segments.replace(s"$indexDir/doclen") { staged =>
      graft.Engine.label(spark, "bm25 compact: doclen+stats rewrite")(
        writeDoclenWithStats(spark, live("doclen"), staged,
          s"$indexDir/stats"))
    }
    Segments.dropOverlay(indexDir, Bm25Tables)
  }

  /** Common-token ratio: the fraction of a document's tokens that fall
    * in the corpus's top-`topN` vocabulary — the cheap stand-in for a
    * unigram-LM quality score (fluent text is dominated by frequent
    * words; gibberish and OCR noise are not), kept log-free so the
    * score is one integer division.
    *
    * Scale shape: the vocabulary agg is the only shuffle (token-keyed,
    * map-side partials); the bounded top-N rows then collect to the
    * driver (same convention as the IVF centroid table) and ride a
    * native [[graft.functions.TokenSetCount]] kernel as a reference
    * object — shipped once per stage inside Spark's broadcast task
    * binary — so the per-document scoring pass is MAP-ONLY: no
    * per-occurrence explode shuffle, no join, nothing
    * data-proportional leaves its partition.
    *
    * EAGER by design when `vocab` is not supplied: the vocabulary
    * job (agg + bounded collect) runs AT CALL TIME, freezing the
    * vocabulary against the `docs` snapshot passed in — the returned
    * frame does not recompute it, and later appends to the underlying
    * table do not shift the score definition. Callers that want
    * plan-construction to stay side-effect-free (or want to reuse one
    * vocabulary across corpora/batches — the production shape) pass a
    * precomputed `vocab`. */
  def commonTokenRatio(docs: DataFrame, topN: Int,
      textCol: String = "text", idCol: String = "doc_id",
      vocab: Option[Seq[String]] = None): DataFrame = {
    val vocabTokens: Seq[String] = vocab.getOrElse(
      vocabulary(docs, topN, textCol, idCol)
        .select("token").collect().map(_.getString(0)).toSeq)
    val w = wordTokens(col(textCol))
    docs.select(col(idCol), size(w).cast("long").as("n_tokens"),
        graft.functions.TokenSetCount.tokenSetCount(w, vocabTokens)
          .as("n_common"))
      .select(col(idCol), col("n_tokens"), col("n_common"),
        when(col("n_tokens") === 0, 0.0)
          .otherwise(col("n_common").cast("double") /
            col("n_tokens").cast("double")).as("common_ratio"))
  }

  /** Sequence-packing plan (GPT-style concat-and-cut): documents are
    * laid end-to-end in `idCol` order and cut every `seqLen` tokens;
    * each doc gets its global token offset and the first/last training
    * sequence it lands in. This is the planning step of a training-data
    * export — downstream writers materialize sequence `s` by taking
    * every doc with `first_seq <= s <= last_seq`.
    *
    * The global running sum is NOT a single-partition window (which
    * would serialize a 100 TB corpus through one task): docs are
    * interval-bucketed on the id domain, per-bucket token totals (one
    * row per bucket — constant driver traffic) are prefix-summed on the
    * driver, then each bucket computes its LOCAL cumulative sum in
    * parallel and adds its bucket's starting offset — the classic
    * two-phase distributed prefix sum. Results are partitioning- and
    * cluster-size-independent because bucket boundaries are a pure
    * function of the id domain.
    *
    * Token counting here is whitespace-field counting (`split(text,
    * " ")`), the SAME rule [[chunkDocuments]]/[[dedupSpans]] cut on —
    * a packing plan must agree with the chunker that materializes the
    * sequences, so an empty document counts as 1 token (one empty
    * field), deliberately unlike the [[tokenStats]] word-token family.
    *
    * Requires an integral, non-null `idCol` (bucket boundaries are
    * arithmetic on the id domain); fails fast with a clear message
    * otherwise. */
  def packSequences(docs: DataFrame, seqLen: Int,
      textCol: String = "text", idCol: String = "doc_id",
      buckets: Int = 32): DataFrame = {
    require(seqLen > 0, s"seqLen must be positive, got $seqLen")
    val idType = docs.schema(idCol).dataType
    require(Seq("byte", "short", "integer", "long")
        .contains(idType.typeName),
      s"packSequences needs an integral id column; `$idCol` is " +
        s"${idType.typeName}. Cast or derive a numeric id first.")
    val base = docs.select(col(idCol).cast("long").as(idCol),
      size(split(col(textCol), " ")).cast("long").as("n_tokens"))
    val bounds = base.agg(min(col(idCol)), max(col(idCol))).head()
    if (bounds.isNullAt(0)) // empty input: keep the schema, no rows
      return base.select(col(idCol), col("n_tokens"),
        lit(0L).as("tok_offset"), lit(0L).as("first_seq"),
        lit(0L).as("last_seq"))
    val (minId, maxId) = (bounds.getLong(0), bounds.getLong(1))
    val width = math.max(1L, (maxId - minId) / buckets + 1)
    // integral `div`, not `/`: double division misbuckets once the id
    // range outgrows 2^53
    val bucketed = base.withColumn("__b",
      expr(s"(`$idCol` - (${minId}L)) div ${width}L"))
    // one row per bucket — constant-size driver fetch, like an IVF
    // centroid table
    val sums = bucketed.groupBy("__b").agg(sum("n_tokens").as("t"))
      .collect().map { r =>
        require(!r.isNullAt(0),
          s"packSequences: `$idCol` contains nulls; every document " +
            "needs a non-null id to get a deterministic offset")
        r.getLong(0) -> r.getLong(1)
      }.toMap
    var acc = 0L
    val offs = sums.keys.toSeq.sorted.map { bk =>
      val o = acc; acc += sums(bk); (bk, o)
    }
    val spark = docs.sparkSession
    import spark.implicits._
    val offDf = offs.toDF("__b", "__boff")
    val win = Window.partitionBy("__b").orderBy(idCol)
      .rowsBetween(Window.unboundedPreceding, -1)
    bucketed.join(broadcast(offDf), Seq("__b"))
      .withColumn("tok_offset",
        col("__boff") + coalesce(sum(col("n_tokens")).over(win), lit(0L)))
      .select(col(idCol), col("n_tokens"), col("tok_offset"),
        floor(col("tok_offset") / lit(seqLen)).as("first_seq"),
        floor((col("tok_offset") + greatest(col("n_tokens"), lit(1L)) - 1) /
          lit(seqLen)).as("last_seq"))
  }

  /** Per-domain quality floor: keep documents whose lexical diversity
    * (distinct-token ratio) is at or above their OWN domain's
    * `p`-quantile — a fixed global threshold over-prunes domains whose
    * baseline diversity is naturally low (code, forums) and under-
    * prunes high-baseline ones, so curation pipelines gate per-source.
    *
    * Scale shape: thresholds are one exact-percentile aggregate —
    * |domains| rows — broadcast back; the corpus side is a projection +
    * broadcast join + filter, no wide shuffle of documents. Exact
    * `percentile` keeps the cut oracle-checkable; at extreme per-domain
    * row counts swap in `percentile_approx` (same plan shape). */
  def qualityPercentileGate(docs: DataFrame, p: Double = 0.25,
      byCol: String = "source", textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    require(p >= 0.0 && p <= 1.0, s"p must be in [0,1], got $p")
    val words = size(wordTokens(col(textCol)))
    val uniq = size(array_distinct(wordTokens(col(textCol))))
    val safe = when(words === 0, 1).otherwise(words)
    val scored = docs.select(col(idCol), col(byCol),
      (uniq.cast("double") / safe.cast("double")).as("diversity"))
    val thr = scored.groupBy(col(byCol))
      .agg(percentile(col("diversity"), lit(p)).as("__thr"))
    scored.join(broadcast(thr), Seq(byCol))
      .filter(col("diversity") >= col("__thr"))
      .select(col(idCol), col(byCol), col("diversity"))
  }

  /** C4-style global span dedup: the corpus is cut into non-overlapping
    * `spanTokens`-token spans ([[chunkDocuments]] with zero overlap) and
    * every span that occurs anywhere else in the corpus is dropped
    * except its first occurrence (min (doc, position)); each document
    * is then reassembled from its surviving spans. This is the
    * passage-level boilerplate killer (license headers, navigation
    * chrome, ToS text) that document-level dedup can't touch — C4 does
    * it at the "three-sentence span" level; token windows are the
    * delimiter-free equivalent.
    *
    * Scale shape: the per-doc chunk array is built MAP-SIDE (the
    * [[graft.functions.TokenChunks]] kernel) and only (doc, chunk_id,
    * 16-byte md5) rows ever explode into a shuffle — span TEXT never
    * leaves its partition. The keeper is a partial-aggregated
    * min(struct(doc, chunk_id)) on the fingerprint — NOT a window
    * ranking: a boilerplate span occurring in millions of documents
    * collapses map-side. Removed chunk ids aggregate to one small
    * sorted int array per affected doc (compact buffers) and the
    * clean text is rebuilt map-side by filtering the chunk array by
    * index. (The previous formulation shuffled chunk TEXT and
    * collect_list'ed (chunk_id, text) structs per doc — the same
    * buffer shape that OOM'd dedupSubstrings' first draft at the 100×
    * replica, since ObjectHashAggregate holds per-task group maps in
    * memory up to the raised sort-fallback threshold.) */
  def dedupSpans(docs: DataFrame, spanTokens: Int,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    // NULL text → an empty chunk array (0 spans, clean_text "") — not
    // a null array, whose size() is -1 under the engine's ansi=false
    val base = docs.select(col(idCol),
      coalesce(graft.functions.TokenChunks.tokenChunks(
          split(col(textCol), " "), spanTokens, spanTokens),
        array().cast("array<string>")).as("__cs"))
    val fpRows = base
      .select(col(idCol),
        posexplode(transform(col("__cs"), c => md5(c)))
          .as(Seq("chunk_id", "__fp")))
    // first occurrence of each span = min (doc, position), struct order
    val firsts = fpRows.groupBy(col("__fp"))
      .agg(min(struct(col(idCol), col("chunk_id"))).as("__first"))
      .select(col("__fp"), col("__first")(idCol).as(idCol),
        col("__first")("chunk_id").as("chunk_id"))
    val removed = fpRows
      .join(firsts, Seq("__fp", idCol, "chunk_id"), "left_anti")
      .groupBy(col(idCol))
      .agg(array_sort(collect_set(col("chunk_id"))).as("__rm"))
    // size(null) is -1 under the engine's pinned ansi=false (legacy
    // sizeOfNull) — coalesce the ARRAY, not the size
    base.join(removed, Seq(idCol), "left")
      .select(col(idCol),
        size(col("__cs")).cast("long").as("n_spans"),
        (size(col("__cs")) -
          size(coalesce(col("__rm"), array().cast("array<int>"))))
          .cast("long").as("n_kept"),
        // sorted-merge index filter (see substringReassemble) — __rm is
        // array_sort'd above, the kernel's contract
        when(col("__rm").isNull, array_join(col("__cs"), " "))
          .otherwise(graft.functions.DropByIndexJoin
            .dropByIndexJoin(col("__cs"), col("__rm"))).as("clean_text"))
  }

  /** Winnowed rolling-hash fingerprints ([[graft.functions.Winnow]]):
    * any shared character run of length >= w+k-1 between two documents
    * yields a shared fingerprint — the PARTIAL-overlap signal md5
    * (exact only) and MinHash/SimHash (whole-document similarity)
    * can't give. Map-only projection. */
  def winnowFingerprints(docs: DataFrame, textCol: String = "text",
      k: Int = 8, w: Int = 4): DataFrame =
    docs.select(col("doc_id"),
      graft.functions.Winnow.winnow(col(textCol), k, w).as("fps"))

  /** EXACT substring dedup at ARBITRARY alignment — the
    * "deduplicating training data" operator (Lee et al. 2022,
    * ExactSubstr): any token span of length ≥ `k` that occurs more
    * than once in the corpus (at ANY offset, within or across
    * documents) is removed everywhere except its first occurrence.
    * [[dedupSpans]] (C4-style) cuts the corpus into FIXED
    * non-overlapping windows, so a license header shifted by one
    * token between two pages never collides; this operator slides.
    *
    * Formulation (seed coverage): every SLIDING k-token window is
    * fingerprinted; the first occurrence of each fingerprint — min
    * (doc, start) — is the keeper; a token position is removed iff
    * some NON-first window covers it. A duplicated span of length
    * L ≥ k is covered by L−k+1 duplicated windows, so the whole
    * non-first span is removed and the first occurrence survives
    * intact (its windows are all keepers unless they also occur even
    * earlier). Tokens are whitespace fields — the same cut rule as
    * [[chunkDocuments]]/[[packSequences]].
    *
    * Scale shape: the window fingerprints are computed MAP-SIDE as
    * one array per document (a `transform` over starts — n·k token
    * reads per doc, the scan-dominant cost any k-gram pass pays; at
    * 100 TB swap the md5-of-slice for a rolling-hash Expression) and
    * posexploded WITHOUT the token array, so window rows carry
    * (doc, start, 16-byte md5) only. The keeper is a partial-
    * aggregated min(struct(doc, start)) on the fingerprint — a
    * boilerplate span occurring in millions of documents collapses
    * map-side; NEVER a window-function ranking. Non-first windows
    * expand to covered positions (×k, bounded), distinct on
    * (doc, pos) partial-aggregates. Reassembly: removed POSITIONS
    * aggregate to one small int array per affected doc (compact
    * buffers — a doc's removals are bounded by its own length) and
    * join back onto the token-array frame; the clean text is rebuilt
    * MAP-SIDE by filtering the original array by index. Token text
    * therefore never enters a shuffle or an aggregation buffer at all
    * — the first formulation collect_list'ed (pos, token) structs per
    * doc and OOM'd an 8 GiB JVM at the 100× replica (500k docs),
    * because ObjectHashAggregate holds its per-task group map in
    * memory up to the (deliberately raised) sort-fallback threshold;
    * position-only state is ~50 bytes per removed token instead of
    * the whole document. Output: (doc_id, n_tokens, n_removed,
    * clean_text).
    */
  def dedupSubstrings(docs: DataFrame, k: Int,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(k >= 2, s"substring threshold k must be >= 2, got $k")
    val toks = docs.select(col(idCol),
      coalesce(split(col(textCol), " "),
        array().cast("array<string>")).as("__w"))
    val windows = substringWindows(toks, k, idCol)
    // first occurrence of each fingerprint = min (doc, start)
    val firsts = windows.groupBy(col("__g"))
      .agg(min(struct(col(idCol), col("start"))).as("__f"))
      .select(col("__g"), col("__f")(idCol).as(idCol),
        col("__f")("start").as("start"))
    // windows that are NOT their fingerprint's first occurrence
    val removedWins = windows.join(firsts,
      Seq("__g", idCol, "start"), "left_anti")
    substringReassemble(toks, removedWins, k, idCol)
  }

  /** [[dedupSubstrings]] against an EXISTING corpus — the incremental
    * twin: a window whose fingerprint already exists in `corpusGrams`
    * (one binary `g` column, the output of [[substringGrams]] over
    * everything ingested so far) is removed on EVERY occurrence in
    * the batch (its true first occurrence lives in the corpus), and
    * batch-internal duplicates keep their batch-first occurrence —
    * exactly [[dedupSubstrings]] over corpus-then-batch, restricted
    * to the batch. Same fingerprint-only shuffles. */
  def dedupSubstringsAgainstCorpus(corpusGrams: DataFrame,
      docs: DataFrame, k: Int, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame =
    dedupSubstringsAgainstCorpusTracked(corpusGrams, docs, k, textCol,
      idCol)._1

  /** [[dedupSubstringsAgainstCorpus]] plus a handle on the
    * checkpointed window rows, so a per-batch caller (the streaming
    * sink) can RELEASE their storage once the batch's result is fully
    * consumed — a long-lived stream must not accumulate one pinned
    * window-fingerprint RDD per micro-batch. */
  private[graft] def dedupSubstringsAgainstCorpusTracked(
      corpusGrams: DataFrame, docs: DataFrame, k: Int,
      textCol: String = "text", idCol: String = "doc_id")
      : (DataFrame, DataFrame) = {
    require(k >= 2, s"substring threshold k must be >= 2, got $k")
    val toks = docs.select(col(idCol),
      coalesce(split(col(textCol), " "),
        array().cast("array<string>")).as("__w"))
    val windows = substringWindows(toks, k, idCol)
    val firsts = windows.groupBy(col("__g"))
      .agg(min(struct(col(idCol), col("start"))).as("__f"))
      .select(col("__g"), col("__f")(idCol).as(idCol),
        col("__f")("start").as("start"))
    val nonFirst = windows.join(firsts,
      Seq("__g", idCol, "start"), "left_anti")
    val inCorpus = windows.join(
      corpusGrams.select(col("g").as("__g")), Seq("__g"), "left_semi")
    val removedWins = nonFirst.select(col(idCol), col("start"))
      .unionByName(inCorpus.select(col(idCol), col("start")))
    (substringReassemble(toks, removedWins, k, idCol), windows)
  }

  /** The distinct window fingerprints of a document set — what a
    * streaming ingester appends to its substring-fingerprint store
    * after each batch (RAW batch text, not the cleaned output: the
    * kept first occurrence defines the spans later arrivals must
    * collide with). One binary `g` column. */
  def substringGrams(docs: DataFrame, k: Int,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    substringWindows(docs.select(col(idCol),
        coalesce(split(col(textCol), " "),
        array().cast("array<string>")).as("__w")), k, idCol,
        checkpoint = false)
      .select(col("__g").as("g")).distinct()

  /** Sliding-window fingerprint rows (idCol, start, __g) — per-doc
    * fingerprints computed BEFORE the explode so the token array
    * never rides along window rows; 16-BYTE BINARY rolling-hash
    * fingerprints ([[graft.functions.KgramFingerprints]] — Rabin-Karp,
    * one pass per doc instead of the O(n·k) interpreted md5-of-slice
    * HOF this replaced; same key width, same plan shape).
    * localCheckpoint'd because both the first-occurrence aggregate and
    * the non-first anti-join consume the rows: without it the
    * fingerprint pass (still the scan-dominant leg) runs twice
    * end-to-end. The blocks stay persisted for the returned lazy plan
    * (a lineage-truncated checkpoint cannot recompute); the session's
    * storage sweep reclaims them. */
  private def substringWindows(toks: DataFrame, k: Int,
      idCol: String, checkpoint: Boolean = true): DataFrame = {
    val grams = toks.select(col(idCol),
      graft.functions.KgramFingerprints
        .kgramFingerprints(col("__w"), k).as("__gs"))
    val rows = grams.select(col(idCol),
      posexplode(col("__gs")).as(Seq("start", "__g")))
    // single-consumer callers (substringGrams) skip the checkpoint:
    // materializing a frame read exactly once is pure overhead AND
    // pins blocks a long-lived streaming session would accumulate
    if (checkpoint) rows.localCheckpoint() else rows
  }

  /** Position-only reassembly shared by the substring-dedup variants:
    * removed windows expand to covered positions, aggregate to one
    * small sorted int array per affected doc, and the clean text is
    * rebuilt MAP-SIDE by index-filtering the original token array —
    * token text never enters a shuffle or an aggregation buffer. The
    * index filter is the sorted-merge kernel
    * [[graft.functions.DropByIndexJoin]] (O(n + |rm|) per doc — the
    * `array_contains`-per-token lambda it replaced was O(n·|rm|),
    * map-side quadratic exactly on mostly-duplicate long docs). */
  private def substringReassemble(toks: DataFrame, removedWins: DataFrame,
      k: Int, idCol: String): DataFrame = {
    val removedArr = removedWins
      .select(col(idCol),
        explode(sequence(col("start"), col("start") + (k - 1))).as("pos"))
      .groupBy(col(idCol))
      .agg(array_sort(collect_set(col("pos"))).as("__rm"))
    // size(null) is -1 under the engine's pinned ansi=false (legacy
    // sizeOfNull) — coalesce the ARRAY, not the size
    toks.join(removedArr, Seq(idCol), "left")
      .select(col(idCol),
        size(col("__w")).cast("long").as("n_tokens"),
        size(coalesce(col("__rm"), array().cast("array<int>")))
          .cast("long").as("n_removed"),
        when(col("__rm").isNull, concat_ws(" ", col("__w")))
          .otherwise(graft.functions.DropByIndexJoin
            .dropByIndexJoin(col("__w"), col("__rm"))).as("clean_text"))
  }
}
