package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The correctness artifact must be CLOSED over the declared query set:
  * one parquet dump per query, with thrown queries surfacing as an
  * `__error` sentinel dump rather than vanishing (round 9 lost 71
  * broken queries to exactly that — the driver's artifact silently
  * shrank and read as all-green). */
class VerifySpec extends SparkSuite {

  test("dumpAll writes one dump per declared query, sentinel on throw") {
    val out = tmpDir("verifyspec")
    val queries = Map[String, (SparkSession, String) => DataFrame](
      "q_good" -> ((s, _) => s.range(3).toDF("n")),
      "q_bad" -> ((_, _) => throw new RuntimeException("planted failure")),
      "q_bad_null_msg" -> ((_, _) => throw new RuntimeException()))
    val errors = Verify.dumpAll(spark, sf, out, queries)

    // every declared query has a dump directory
    val dumped = new java.io.File(out).listFiles.filter(_.isDirectory)
      .map(_.getName).toSet
    assert(dumped == queries.keySet,
      s"dump dirs $dumped != declared ${queries.keySet}")

    // the clean query's dump is its result
    assert(spark.read.parquet(s"$out/q_good").count() == 3)

    // thrown queries leave the __error sentinel with the message
    val bad = spark.read.parquet(s"$out/q_bad")
    assert(bad.columns.toSeq == Seq("__error"))
    assert(bad.collect().map(_.getString(0)).toSeq ==
      Seq("planted failure"))
    assert(errors == Map(
      "q_bad" -> "planted failure",
      "q_bad_null_msg" -> "java.lang.RuntimeException"))
  }

  test("dumpAll over the full declared set stays aligned with oracleSql") {
    // Closure guard at the declaration level: every oracle refers to a
    // declared query (a stale oracle key would make the driver compare
    // a dump that never exists).
    val undeclared = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(undeclared.isEmpty,
      s"oracleSql keys without a queries entry: $undeclared")
  }

  test("oracle_sql.json and errors.json parse back to what was written") {
    val out = tmpDir("verifyjson")
    val astral = "\uD83D\uDE00"
    val errors = Map(
      "q_tab" -> "a\tb",
      "q_cr" -> "line\r\nnext",
      "q_quote" -> "say \"hi\" \\ back",
      "q_ctl" -> "x\u0001y",
      "q_astral" -> s"emoji $astral end",
      // a 500-char cut never splits a surrogate pair
      "q_long" -> ("x" * 499 + astral + "tail"))
    Verify.writeArtifacts(out, errors)
    val strict = new com.fasterxml.jackson.databind.ObjectMapper()
      .enable(com.fasterxml.jackson.databind.DeserializationFeature
        .FAIL_ON_TRAILING_TOKENS)
    def read(name: String): Map[String, String] = {
      val text = java.nio.file.Files.readString(
        java.nio.file.Paths.get(s"$out/$name"))
      // a strict json.load rejects raw control chars inside strings
      assert(!text.exists(_ < ' '), s"raw control char in $name")
      import scala.jdk.CollectionConverters._
      strict.readValue(text, classOf[java.util.Map[String, String]])
        .asScala.toMap
    }
    assert(read("oracle_sql.json") == SparkEntry.oracleSql)
    assert(read("errors.json") == errors + ("q_long" -> "x" * 499))
  }
}
