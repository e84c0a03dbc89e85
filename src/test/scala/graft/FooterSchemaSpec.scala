package graft

import org.apache.spark.graft.JobCount
import org.apache.spark.sql.functions._

/** [[Engine.table]] resolves a table's schema from one footer read on
  * the driver: it must equal what Spark's own inference returns, and
  * registering a catalog must schedule no job. */
class FooterSchemaSpec extends SparkSuite {

  private def footer(path: String) = Engine.footerSchema(spark, path)
    .getOrElse(fail(s"no footer schema for $path"))._1

  test("footer schema equals inference for every testdata table, " +
      "TIMESTAMP(NANOS) events included") {
    Engine.configure(spark)
    Engine.tableNames.foreach { t =>
      val p = s"$sf/$t.parquet"
      assert(footer(p) == spark.read.parquet(p).schema, t)
    }
  }

  test("footer schema equals inference for a Spark-written multi-file " +
      "dir carrying the row-metadata key") {
    val dir = s"${tmpDir("graft_footer")}/t.parquet"
    spark.range(300).select(col("id"),
        (col("id") % 7).cast("int").as("small"),
        col("id").cast("decimal(18,2)").as("dec"),
        col("id").cast("string").as("s"),
        timestamp_seconds(col("id")).as("ts"),
        array(col("id"), lit(null).cast("long")).as("arr"),
        struct(col("id").as("x"), lit("y").as("y")).as("st"),
        map(col("s"), col("id")).as("m"))
      .withColumn("s", when(col("id") % 5 === 0, lit(null)).otherwise(col("s")))
      .repartition(3).write.parquet(dir)
    val parts = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet"))
    assert(parts.length >= 2, parts.toSeq)
    val conf = spark.sessionState.newHadoopConf()
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(parts.head.getPath), conf))
    try assert(reader.getFooter.getFileMetaData.getKeyValueMetaData
      .containsKey("org.apache.spark.sql.parquet.row.metadata"))
    finally reader.close()
    assert(footer(dir) == spark.read.parquet(dir).schema)
  }

  test("a partitioned dir has no single-footer schema") {
    val dir = s"${tmpDir("graft_footer_part")}/t.parquet"
    spark.range(10).select(col("id"), (col("id") % 2).as("p"))
      .write.partitionBy("p").parquet(dir)
    assert(Engine.footerSchema(spark, dir).isEmpty)
  }

  test("registerAll over a fresh dir schedules no Spark job") {
    val dir = tmpDir("graft_fresh_sf")
    Engine.tableNames.foreach { t =>
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$sf/$t.parquet"),
        java.nio.file.Paths.get(s"$dir/$t.parquet"))
    }
    val fresh = spark.newSession()
    val (_, jobs) = JobCount(fresh)(Engine.registerAll(fresh, dir))
    assert(jobs == 0, s"registerAll scheduled $jobs jobs")
    Engine.tableNames.foreach { t =>
      assert(fresh.table(t).schema == Engine.table(spark, sf, t).schema, t)
    }
  }
}
