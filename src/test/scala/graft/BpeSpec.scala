package graft

import graft.operators.Bpe

/** The driver-local BPE merge loop must produce the IDENTICAL merge
  * sequence as the distributed per-round fallback — same counts
  * (overlapping adjacencies included), same tie-break (count desc,
  * then lexicographically smallest pair), same greedy non-overlapping
  * merge application. Differential-tested on random corpora by forcing
  * the path switch via `spark.graft.localTwin.maxRows`; the bound
  * 2^32+10 must not truncate the local path's probe. */
class BpeSpec extends SparkSuite {

  import spark.implicits._

  private def corpusDF(words: Seq[String]) =
    words.zipWithIndex.map { case (w, i) => (i.toLong, w) }
      .toDF("doc_id", "text")

  private val hugeBound = 4294967306L // 2^32+10

  private def learnWith(localMax: Long, docs: org.apache.spark.sql.DataFrame,
      n: Int): Seq[(String, String)] =
    withSQLConf("spark.graft.localTwin.maxRows" -> localMax.toString) {
      Bpe.learn(docs, n)
    }

  test("local == distributed on the Sennrich reference corpus") {
    val docs = corpusDF(Seq(("low " * 5).trim, ("lower " * 2).trim,
      ("newest " * 6).trim, ("widest " * 3).trim))
    val local = learnWith(1000000, docs, 10)
    val dist = learnWith(0, docs, 10) // vocab > 0 forces the fallback
    assert(local == dist)
    assert(learnWith(hugeBound, docs, 10) == dist)
    assert(local.take(3) == Seq(("e", "s"), ("es", "t"), ("est", "</w>")))
  }

  test("local == distributed on random corpora (overlaps, ties, unicode)") {
    val rnd = new scala.util.Random(7)
    (1 to 4).foreach { trial =>
      val alphabet = Seq("a", "b", "c", "é", "😀") // é, 😀
      val words = (1 to 30).map { _ =>
        (1 to (1 + rnd.nextInt(6)))
          .map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
      }
      val docs = corpusDF(Seq.fill(3)(words(rnd.nextInt(words.length)))
        ++ words)
      val n = 12
      val local = learnWith(1000000, docs, n)
      val dist = learnWith(0, docs, n)
      assert(local == dist, s"trial $trial: $local vs $dist")
      assert(learnWith(hugeBound, docs, n) == dist, s"trial $trial: 2^32+10")
    }
  }

  test("exhaustion: fewer possible merges than requested") {
    val docs = corpusDF(Seq("ab", "ab", "cd"))
    val local = learnWith(1000000, docs, 50)
    val dist = learnWith(0, docs, 50)
    assert(local == dist)
    assert(learnWith(hugeBound, docs, 50) == dist)
    assert(local.nonEmpty && local.length < 50)
  }

  test("count tie between a U+E000..U+FFFF char and a supplementary " +
      "char: local tie-break == distributed (code-point order)") {
    // U+F8FF (private use, BMP) vs U+1F600 (😀, supplementary): UTF-16
    // code-unit order ranks 😀 (surrogate 0xD83D) BELOW 0xF8FF, while
    // UTF8String binary / code-point order ranks it above — a count
    // tie between pairs starting with these chars is exactly where the
    // two loops used to diverge. Both words occur once, so every pair
    // in each word ties at count 1.
    val pua = "\uF8FF"
    val docs = corpusDF(Seq(s"${pua}z", "😀z"))
    val local = learnWith(1000000, docs, 4)
    val dist = learnWith(0, docs, 4)
    assert(local == dist, s"$local vs $dist")
    assert(learnWith(hugeBound, docs, 4) == dist)
    // merge 1 is the shared (z, </w>); merge 2 is the count-1 TIE —
    // code-point order puts the PUA char (U+F8FF) before 😀 (U+1F600),
    // where UTF-16 code-unit order would put 😀 (0xD83D) first
    assert(local(1)._1 == pua, s"expected the U+F8FF pair at merge 2: $local")
  }

  test("char-budget bound forces the distributed fallback on a " +
      "long-word vocab (byte-aware cap)") {
    val longWords = (1 to 4).map(i => ("xy" * 300) + ("ab" * i))
    val docs = corpusDF(longWords)
    // rows fit (4 <= 1M) but chars (~2500) exceed the tiny cap: the
    // fallback must produce the same merges as the local loop
    val viaFallback =
      withSQLConf("spark.graft.bpe.localVocabMaxChars" -> "100") {
        Bpe.learn(docs, 6)
      }
    val viaLocal = learnWith(1000000, docs, 6)
    assert(viaFallback == viaLocal)
  }
}
