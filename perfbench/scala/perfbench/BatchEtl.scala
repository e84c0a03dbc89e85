package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** `batch_etl`: one client runs a fixed list of catalog queries in
  * order over the seeded replica, with aggregate routing off, writing
  * each result to parquet the way a nightly ETL job lands its output.
  *
  * There is no warm-up: a nightly job is a fresh application, so the
  * first pass pays JIT and codegen warm-up as the job does every
  * night. The measured phase runs whole passes of the list until the
  * time is up; every pass writes its own output directory, so run.py
  * can check each pass against the DuckDB oracle and the passes
  * against each other.
  */
object BatchEtl {

  private def runQuery(spark: SparkSession, name: String, data: String,
      out: String, tracer: Tracer): Unit = {
    val df = tracer.span("operators.build")(graft.SparkEntry.queries(name)(spark, data))
    tracer.span("exec.write")(df.write.mode("overwrite").parquet(out))
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    spark.conf.set("spark.graft.aggRouting.enabled", "false")
    val warehouse = ctx.strs("warehouse")
    val curation = ctx.strs("curation")
    val data = ctx.str("replica")
    val out = ctx.str("out")

    val manifests0 = IngestCdc.manifests(ctx.work)

    // ---- measured phase: whole passes while they fit in the window
    ctx.startMeasuring()
    val passes = mutable.ArrayBuffer.empty[Map[String, Double]]
    var last = 0.0
    while (ctx.another(last, passes.size)) {
      val p = passes.size
      val halves = Seq("warehouse" -> warehouse, "curation" -> curation).map {
        case (half, qs) =>
          val t0 = System.nanoTime()
          qs.foreach(q => ctx.op(half, q)(runQuery(spark, q, data, s"$out/p$p/$q", ctx.tracer)))
          half -> (System.nanoTime() - t0) / 1e9
      }
      passes += halves.toMap
      last = halves.map(_._2).sum
    }
    ctx.stopMeasuring()
    ctx.extra("passes") = passes.toSeq
    ctx.extra("vtab_commits") = IngestCdc.manifests(ctx.work) - manifests0

    val oracle = graft.SparkEntry.oracleSql
    ctx.extra("oracle_sql") = (warehouse ++ curation).flatMap(q => oracle.get(q).map(q -> _)).toMap
  }
}
