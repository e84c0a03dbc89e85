package graft.operators

import org.apache.spark.graft.JobCount
import org.apache.spark.sql.functions._

/** Spark jobs each index-maintenance entry point schedules on a small
  * maintained IVF and BM25 index. The CDC ingest path runs all four on
  * every batch, so its cost is bound by job count: a change to the
  * store format or its swap must leave these numbers as they are. No
  * read of an index table schedules a schema-inference job
  * ([[Segments.read]]). */
class IndexMaintenanceJobsSpec extends graft.SparkSuite {

  private lazy val vecs = {
    import spark.implicits._
    val rng = new scala.util.Random(5)
    (0 until 40).map { i =>
      (i.toLong, Array.fill(8)(rng.nextGaussian().toFloat))
    }.toDF("vec_id", "embedding")
  }

  private lazy val docs = {
    import spark.implicits._
    Seq((1L, "spark scan join"), (2L, "join filter"),
      (3L, "scan scan scan"), (4L, "filter join spark"))
      .toDF("doc_id", "text")
  }

  /** (upsert jobs, compact jobs) for one insert + one delete batch. */
  private lazy val ivf = {
    import spark.implicits._
    val dir = tmpDir("ivf_jobs")
    Similarity.ivfBuildIndex(vecs, dir, dim = 8, planes = 3)
    val q = vecs.filter(col("vec_id") === 0).head().getSeq[Float](1)
    val changes = Seq((900L, q, "insert"), (4L, q, "delete"))
      .toDF("vec_id", "embedding", "change")
    val (_, upsert) = JobCount(spark)(Similarity.ivfUpsert(spark, dir, changes))
    val (_, compact) = JobCount(spark)(Similarity.ivfCompact(spark, dir))
    (upsert, compact)
  }

  private lazy val bm25 = {
    import spark.implicits._
    val dir = tmpDir("bm25_jobs")
    TextOps.buildInvertedIndex(docs, dir, shards = 4)
    val changes = Seq((5L, "join join scan", "insert"), (3L, "", "delete"))
      .toDF("doc_id", "text", "change")
    val (_, upsert) = JobCount(spark)(
      TextOps.invertedIndexUpsert(spark, dir, changes, shards = 4))
    val (_, compact) = JobCount(spark)(TextOps.invertedIndexCompact(spark, dir))
    (upsert, compact)
  }

  test("ivfUpsert schedules 4 jobs") { assert(ivf._1 == 4) }
  test("ivfCompact schedules 3 jobs") { assert(ivf._2 == 3) }
  test("invertedIndexUpsert schedules 8 jobs") { assert(bm25._1 == 8) }
  test("invertedIndexCompact schedules 7 jobs") { assert(bm25._2 == 7) }
}
