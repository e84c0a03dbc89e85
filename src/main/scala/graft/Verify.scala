package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** Dump every query under `outDir`, one parquet dir PER DECLARED
    * QUERY — including the ones that throw. A thrown query gets a
    * one-row sentinel dump with the single column `__error` holding
    * the message: its schema/rows can never match any oracle, so the
    * driver's compare surfaces it as a red row. (Round 9 lost 71
    * broken queries because a thrown query left NO dump, and the
    * correctness artifact silently shrank instead of reddening.)
    * Returns the error-by-query map (empty = all queries dumped
    * clean). */
  def dumpAll(spark: SparkSession, sfDir: String, outDir: String,
      queries: Map[String, (SparkSession, String) => DataFrame])
      : Map[String, String] = {
    import spark.implicits._
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    queries.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
        errors(name) = msg
        Seq(msg).toDF("__error").coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
      }
    }
    errors.toMap
  }

  /** The driver's two JSON artifacts beside the dumps: `oracle_sql.json`
    * (query -> oracle SQL) and `errors.json` (query -> the first 500
    * chars of its error). Jackson escapes every control char — a tab or
    * CR in builder-authored SQL would otherwise make the driver's
    * json.load fail and silently zero the round's correctness. */
  def writeArtifacts(outDir: String, errors: Map[String, String]): Unit = {
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      Json.write(SparkEntry.oracleSql))
    Files.writeString(Paths.get(s"$outDir/errors.json"),
      Json.write(errors.map { case (k, v) => k -> Json.clip(v, 500) }))
  }

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // Optional dev-only 3rd arg: comma-separated query names to dump.
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = Harness.session(4)
    // fail fast with a NAMED diff on testdata type drift, instead of
    // N identical analysis errors deep inside unrelated queries
    Engine.assertSchemas(spark, sfDir)
    new java.io.File(outDir).mkdirs()
    val errors = dumpAll(spark, sfDir, outDir,
      SparkEntry.queries
        .filter { case (name, _) => only.forall(_.contains(name)) })
    writeArtifacts(outDir, errors)
    spark.stop()
    if (errors.nonEmpty) {
      System.err.println(s"[verify] ${errors.size} queries FAILED: " +
        errors.keys.mkString(", "))
      sys.exit(1)
    }
  }
}
