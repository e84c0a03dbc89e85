package graft.operators

import org.apache.spark.graft.JobCount
import org.apache.spark.sql.functions._

/** Spark jobs each versioned-table rewrite schedules on a two-dir
  * table. The CDC ingest path runs merge, delete and compact on every
  * batch, so its cost is bound by job count: a change to the rewrite
  * path must leave these numbers as they are, or move them on purpose. */
class VersionedTableJobsSpec extends graft.SparkSuite {
  import spark.implicits._

  /** A fresh table of two data dirs: ids 1-4, then ids 5-8. */
  private def twoDirs(name: String): String = {
    val root = tmpDir(name)
    VersionedTable.commit(spark, root,
      (1L to 4L).map(i => (i, i * 10L, s"s$i")).toDF("id", "x", "s"))
    VersionedTable.commit(spark, root,
      (5L to 8L).map(i => (i, i * 10L, s"s$i")).toDF("id", "x", "s"))
    root
  }

  /** (jobs, versions committed) of `op` on a fresh two-dir table. */
  private def jobs(name: String)(op: String => Long): (Int, Long) = {
    val root = twoDirs(name)
    val (v, n) = JobCount(spark)(op(root))
    (n, v - 2L)
  }

  test("a merge touching one dir schedules 6 jobs") {
    assert(jobs("vjobs_merge")(VersionedTable.merge(spark, _,
      Seq((2L, 0L, "u")).toDF("id", "x", "s"), Seq("id"))) == (6, 1L))
  }

  test("a merge touching no dir schedules 5 jobs and still commits") {
    assert(jobs("vjobs_merge0")(VersionedTable.merge(spark, _,
      Seq((9L, 0L, "n")).toDF("id", "x", "s"), Seq("id"))) == (5, 1L))
  }

  test("deleteWhere: 3 jobs on a match, 1 and no commit without") {
    assert((jobs("vjobs_del")(VersionedTable.deleteWhere(spark, _,
      col("id") === 6L)), jobs("vjobs_del0")(VersionedTable.deleteWhere(
      spark, _, col("id") === 99L))) == ((3, 1L), (1, 0L)))
  }

  test("updateWhere: 3 jobs on a match, 1 and no commit without") {
    assert((jobs("vjobs_upd")(VersionedTable.updateWhere(spark, _,
      col("id") === 3L, Map("s" -> lit("u")))),
      jobs("vjobs_upd0")(VersionedTable.updateWhere(spark, _,
        col("id") === 99L, Map("s" -> lit("u"))))) == ((3, 1L), (1, 0L)))
  }

  test("compact(nFiles = 1) schedules 1 job") {
    assert(jobs("vjobs_compact")(
      VersionedTable.compact(spark, _, nFiles = 1)) == (1, 1L))
  }

  test("optimizeZOrder schedules 3 jobs") {
    assert(jobs("vjobs_opt")(VersionedTable.optimizeZOrder(spark, _,
      Seq("id", "x"), nFiles = 2)) == (3, 1L))
  }
}
