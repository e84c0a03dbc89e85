package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed byte-pair-encoding vocabulary learning and encoding —
  * the subword tokenizer step of a training-data pipeline (public
  * algorithm: Sennrich, Haddow & Birch 2016, "Neural Machine
  * Translation of Rare Words with Subword Units", ACL).
  *
  * Scale shape:
  *  - [[learn]] first collapses the corpus to a WORD-FREQUENCY table
  *    (one shuffle over the corpus — the only data-proportional step;
  *    the table is bounded by the language's vocabulary, not corpus
  *    size). Each merge iteration then runs two bounded jobs on that
  *    small table: an adjacent-pair partial-aggregated count and a
  *    map-side merge application. 100 TB of text and 10 GB of text
  *    learn on the same ~1M-row table after the first shuffle.
  *  - [[bpeTokens]] (encode) is a map-only native Catalyst expression
  *    over the corpus — the learned merge ranks ride the expression
  *    (serialized once per task, not per row), so the hot path is one
  *    codegen'd projection with zero shuffles.
  *
  * Determinism (what makes the planted oracle exact): ties on pair
  * count break to the lexicographically smallest (left, right) pair,
  * and encoding greedily applies the LOWEST-rank merge first, leftmost
  * occurrence first — both total orders, so the merge sequence and
  * every encoding are unique for a given corpus.
  */
object Bpe {

  /** End-of-word sentinel appended as its own symbol (Sennrich's
    * `</w>`): lets the tokenizer distinguish "est" mid-word from
    * "est" word-finally, and makes detokenization lossless. */
  val EndOfWord = "</w>"

  /** word -> its symbol sequence: one CODEPOINT per symbol (surrogate
    * pairs stay whole, matching the encoder) plus the end-of-word
    * sentinel. Shared by the distributed loop's UDF and the local
    * path's driver-side split. */
  private def charSplit(w: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < w.length) {
      val n = Character.charCount(w.codePointAt(i))
      out += w.substring(i, i + n); i += n
    }
    out += EndOfWord
    out.toSeq
  }

  /** UDF form for the distributed loop — runs on the bounded vocab
    * table, not the corpus. */
  private val charSplitUdf = udf((w: String) => charSplit(w))

  /** CODE-POINT string order — the order Spark's UTF8String binary
    * comparison (and therefore [[learnDistributed]]'s
    * `orderBy(asc(a), asc(b))` tie-break) realizes. String.compareTo
    * is UTF-16 code-unit order, which DISAGREES for BMP chars in
    * U+E000..U+FFFF tied against supplementary characters (emoji): a
    * count tie between such pairs would make the local and
    * distributed paths pick different merges. */
  private[operators] def cpCompare(x: String, y: String): Int = {
    val xn = x.length; val yn = y.length
    var i = 0; var j = 0
    while (i < xn && j < yn) {
      val cx = x.codePointAt(i); val cy = y.codePointAt(j)
      if (cx != cy) return Integer.compare(cx, cy)
      i += Character.charCount(cx); j += Character.charCount(cy)
    }
    Integer.compare(xn - i, yn - j)
  }

  /** Lowercased whitespace word-frequency table: `word, cnt`. The one
    * corpus-wide shuffle (partial-aggregated groupBy). */
  def wordCounts(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.select(explode(split(lower(col(textCol)), "\\s+")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("cnt"))

  /** Learn `numMerges` BPE merge rules from the corpus. Returns the
    * ranked merge list, best first. */
  def learn(docs: DataFrame, numMerges: Int,
      textCol: String = "text"): Seq[(String, String)] =
    learnFromCounts(wordCounts(docs, textCol), numMerges)

  /** Learn from a precomputed `word, cnt` table (the shape a 100 TB
    * pipeline snapshots anyway).
    *
    * Cost model: BPE merges are defined recursively, so each merge is
    * one sequential ROUND — the only question is where a round runs.
    * The word-frequency table is bounded by the language's VOCABULARY
    * (~1M rows for web text), not the corpus, so when it fits the
    * driver's working bound ([[graft.Engine.boundedLocal]]) the whole
    * merge loop runs DRIVER-LOCAL with incremental pair-count
    * maintenance: one corpus shuffle + one bounded collect + an
    * in-memory loop, instead of 2 Spark jobs per merge (a 32k-merge
    * production vocabulary was 64k scheduler round-trips — pure fixed
    * latency — and is now one collect plus seconds of driver CPU; the
    * planted 10-merge suite query dropped ~4x). A vocab table larger
    * than the bound falls back to the distributed per-round loop
    * below, whose merge sequence is IDENTICAL (BpeSpec pins local ==
    * distributed on random corpora; both tie-break count-desc, then
    * lexicographically smallest pair). Pipelines that find even the
    * fallback too slow learn on a word-table snapshot of a corpus
    * SAMPLE (statistically equivalent for frequent pairs): pass
    * `wordCounts(sample)` here, then [[bpeTokens]] — corpus-scale and
    * map-only — encodes everything. */
  def learnFromCounts(words: DataFrame, numMerges: Int): Seq[(String, String)] = {
    // BYTE-aware second bound: the local loop's working set is the
    // per-codepoint symbol arrays plus pair/occurrence indexes —
    // proportional to total word LENGTH, not row count, so a
    // long-word corpus (URLs, DNA, agglutinative text) must fall back
    // to the distributed loop even under the row cap. Chars (UTF-16
    // units) proxy bytes here; the in-memory blow-up per char is the
    // ~20-40x of one boxed String per codepoint, so the 32 MiB
    // default keeps the loop's footprint ~1 GiB worst-case on the 8g
    // driver.
    val maxChars = words.sparkSession.conf
      .get("spark.graft.bpe.localVocabMaxChars", "33554432").toLong
    // the probe collects RAW (word, cnt) rows; the codepoint split
    // happens driver-side only once the local path is chosen
    graft.Engine.boundedLocal(
        words.select(col("word"), col("cnt").cast("long").as("cnt")),
        "learnFromCounts") match {
      case Some(rows)
          if rows.foldLeft(0L)(_ + _.getString(0).length) <= maxChars =>
        learnLocal(rows.map(r =>
          (charSplit(r.getString(0)).toArray, r.getLong(1))), numMerges)
      case _ => learnDistributed(words, numMerges)
    }
  }

  /** Driver-local BPE merge loop with incremental pair counts — exact
    * twin of [[learnDistributed]] (same counts, same tie-break, same
    * greedy non-overlapping merge application). Pair counts include
    * overlapping adjacencies ("aaa" counts (a,a) twice) exactly like
    * the distributed pair explode; merges apply left-to-right
    * non-overlapping exactly like its mergeOne. A lazy max-heap keeps
    * best-pair selection O(log P); each merge touches only the words
    * that contain its pair (inverted occurrence index). */
  private def learnLocal(words: Array[(Array[String], Long)],
      numMerges: Int): Seq[(String, String)] = {
    import scala.collection.mutable
    val syms = words.map { case (s, _) => mutable.ArrayBuffer(s: _*) }
    val cnt = words.map(_._2)
    val counts = mutable.HashMap.empty[(String, String), Long]
    val occurs = mutable.HashMap.empty[(String, String), mutable.Set[Int]]
    def pairsOf(s: mutable.ArrayBuffer[String]): Seq[(String, String)] =
      (0 until s.length - 1).map(i => (s(i), s(i + 1)))
    // (count, a, b): highest count first, ties to the SMALLEST pair —
    // in CODE-POINT order ([[cpCompare]]), the order the distributed
    // loop's UTF8String sort realizes, so the two paths pick the same
    // merge on ties involving supplementary characters
    val ord = new Ordering[(Long, String, String)] {
      def compare(x: (Long, String, String), y: (Long, String, String)): Int = {
        val c = java.lang.Long.compare(x._1, y._1)
        if (c != 0) c
        else {
          val a = cpCompare(y._2, x._2) // reversed: smaller string wins
          if (a != 0) a else cpCompare(y._3, x._3)
        }
      }
    }
    val heap = mutable.PriorityQueue.empty[(Long, String, String)](ord)
    syms.indices.foreach { w =>
      pairsOf(syms(w)).foreach { p =>
        counts.update(p, counts.getOrElse(p, 0L) + cnt(w))
        occurs.getOrElseUpdate(p, mutable.Set.empty) += w
      }
    }
    counts.foreach { case ((a, b), c) => heap.enqueue((c, a, b)) }
    val merges = mutable.ArrayBuffer.empty[(String, String)]
    while (merges.length < numMerges && heap.nonEmpty) {
      val (c, a, b) = heap.dequeue()
      val cur = counts.getOrElse((a, b), 0L)
      if (cur != c) {
        // stale entry: re-queue at its current count (lazy deletion)
        if (cur > 0) heap.enqueue((cur, a, b))
      } else if (c > 0) {
        merges += ((a, b))
        val touched = mutable.HashMap.empty[(String, String), Long]
        occurs.getOrElse((a, b), mutable.Set.empty).toSeq.foreach { w =>
          val s = syms(w)
          var i = 0
          var has = false
          while (i < s.length - 1 && !has) {
            has = s(i) == a && s(i + 1) == b; i += 1
          }
          if (has) { // occurs is a superset index; verify before work
            val before = pairsOf(s)
            val out = mutable.ArrayBuffer.empty[String]
            i = 0
            while (i < s.length) {
              if (i < s.length - 1 && s(i) == a && s(i + 1) == b) {
                out += (a + b); i += 2
              } else { out += s(i); i += 1 }
            }
            syms(w) = out
            val after = pairsOf(out)
            before.foreach { p =>
              counts.update(p, counts.getOrElse(p, 0L) - cnt(w))
              touched.update(p, 0L)
            }
            after.foreach { p =>
              counts.update(p, counts.getOrElse(p, 0L) + cnt(w))
              occurs.getOrElseUpdate(p, mutable.Set.empty) += w
              touched.update(p, 0L)
            }
          }
        }
        touched.keys.foreach { p =>
          val v = counts.getOrElse(p, 0L)
          if (v <= 0) { counts.remove(p); occurs.remove(p) }
          // fresh heap entries for moved counts; stale ones lazily
          // skipped on dequeue
          else heap.enqueue((v, p._1, p._2))
        }
      }
    }
    merges.toSeq
  }

  /** The per-round distributed loop — the fallback for vocab tables
    * past the driver bound: each merge is a pair-count aggregate + a
    * map over the (bounded) vocab table. */
  private def learnDistributed(words: DataFrame,
      numMerges: Int): Seq[(String, String)] = {
    val mergeOne = udf((syms: Seq[String], a: String, b: String) => {
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      var i = 0
      while (i < syms.length) {
        if (i < syms.length - 1 && syms(i) == a && syms(i + 1) == b) {
          out += (a + b); i += 2
        } else { out += syms(i); i += 1 }
      }
      out.toSeq
    })
    var vocab = words.select(
      charSplitUdf(col("word")).as("syms"),
      col("cnt").cast("long").as("cnt"))
      .localCheckpoint(true)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var exhausted = false
    var it = 0
    while (it < numMerges && !exhausted) {
      val best = vocab
        .filter(size(col("syms")) >= 2)
        .select(explode(expr(
          "transform(sequence(0, size(syms) - 2), " +
            "i -> struct(syms[i] AS a, syms[i + 1] AS b))")).as("p"),
          col("cnt"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("cnt")).as("total"))
        .orderBy(desc("total"), asc("a"), asc("b"))
        .limit(1).collect()
      if (best.isEmpty) exhausted = true
      else {
        val (a, b) = (best(0).getString(0), best(0).getString(1))
        merges += ((a, b))
        vocab = vocab.select(
          mergeOne(col("syms"), lit(a), lit(b)).as("syms"), col("cnt"))
        if ((it + 1) % 8 == 0) vocab = vocab.localCheckpoint(true)
        it += 1
      }
    }
    merges.toSeq
  }

  /** Map-only BPE encode of a text column with a learned merge list:
    * lowercase, whitespace-split, then per word greedily apply the
    * lowest-rank merge (leftmost first) until none applies. Returns
    * `array<string>` of subword tokens. Native expression — stays in
    * whole-stage codegen ([[graft.functions.BpeEncode]]). */
  def bpeTokens(text: Column, merges: Seq[(String, String)]): Column =
    graft.functions.BpeEncode.bpeEncode(lower(text), merges)

  /** Encode + per-document token count/ids in one projection — the
    * corpus-wide tokenization pass. */
  def encode(docs: DataFrame, merges: Seq[(String, String)],
      textCol: String = "text"): DataFrame =
    docs.withColumn("bpe_tokens", bpeTokens(col(textCol), merges))
      .withColumn("n_bpe_tokens", size(col("bpe_tokens")))

  /** Persist a learned merge table (`rank, left, right` parquet) so
    * the tokenizer learned once is reusable across jobs/sessions —
    * the vocab artifact every training pipeline ships alongside its
    * data. Round-trips exactly through [[loadMerges]]. */
  def saveMerges(spark: org.apache.spark.sql.SparkSession,
      merges: Seq[(String, String)], path: String): Unit = {
    import spark.implicits._
    merges.zipWithIndex
      .map { case ((a, b), i) => (i, a, b) }
      .toDF("rank", "left", "right")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Load a merge table saved by [[saveMerges]], rank order restored. */
  def loadMerges(spark: org.apache.spark.sql.SparkSession,
      path: String): Seq[(String, String)] =
    spark.read.parquet(path).orderBy("rank")
      .collect().map(r => (r.getString(1), r.getString(2))).toSeq
}
