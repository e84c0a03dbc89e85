package graft

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.expressions.{Aggregator, Window}
import org.apache.spark.sql.functions._
import graft.functions.{davg2, dec2, dec4, dsum2, dsum4}
import graft.operators.{Relational, Warehouse}

/** Conformance queries closing the remaining SURVEY.md §2 surface:
  * approximate distinct (A11), the count-distinct materialization
  * pattern (A15), ordinal ORDER BY (O2), DISTRIBUTE BY (O3), the
  * `spark.udf.register` scalar-UDF surface (X1), an `Aggregator`-based
  * UDAF (X2), correlated scalar subqueries through spark.sql (P11), and
  * csv/json lake ingestion (S6).
  */
object ExtQueries {

  private def sql(s: SparkSession, d: String, q: String) = {
    Engine.registerAll(s, d)
    s.sql(q)
  }

  /** A11: approx_count_distinct (HLL++) vs exact — the oracle checks the
    * exact side; the approx side is asserted in-engine to land within
    * 10% (HLL++ at default rsd is near-exact at these cardinalities).
    * This is the Druid-style approximate dedup the reference contrasts
    * with exact count(distinct) (docs/olap.md:46). */
  val q_approx_distinct = QuerySpec(
    "q_approx_distinct", Seq("A11"),
    (s, d) => Engine.table(s, d, "events")
      .groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("uu_exact"),
        approx_count_distinct(col("user_id")).as("uu_approx"))
      .select(col("event_type"), col("uu_exact"),
        (abs(col("uu_approx") - col("uu_exact")) <=
          col("uu_exact") * 0.1).as("approx_within_10pct"))
      .orderBy("event_type"),
    Some("""SELECT event_type, COUNT(DISTINCT user_id) AS uu_exact,
                   TRUE AS approx_within_10pct
            FROM events GROUP BY event_type ORDER BY event_type"""))

  /** Batch sessionization — the batch mirror of the streaming
    * session_window ops (the reference mandates identical batch/stream
    * logic, docs/实时数仓.md:93): gap-start flags via lag(), session
    * ids via a running sum, one window partition per user. Identical
    * SQL text on both engines; ties broken by event_id so the lag is
    * deterministic. */
  val q_sessionize_batch = QuerySpec(
    "q_sessionize_batch", Seq("W6", "W4", "F9"),
    (s, d) => sql(s, d, sessionizeSql), Some(sessionizeSql))

  private lazy val sessionizeSql = """
    WITH flags AS (
      SELECT user_id, ts, event_id,
        CASE WHEN lag(ts) OVER w IS NULL
               OR ts > lag(ts) OVER w + INTERVAL 30 MINUTE
             THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
    SELECT user_id, event_id,
      CAST(SUM(new_sess) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS BIGINT)
        AS session_id
    FROM flags
    ORDER BY user_id, event_id"""

  /** GROUP BY ALL — the modern analytics dialect shorthand both
    * engines support with identical semantics (every non-aggregate
    * select item becomes a key). */
  val q_group_by_all = QuerySpec(
    "q_group_by_all", Seq("A7", "O2"),
    (s, d) => sql(s, d, groupByAllSql), Some(groupByAllSql))

  private lazy val groupByAllSql = """
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
    FROM lineitem
    GROUP BY ALL
    ORDER BY l_returnflag, l_linestatus"""

  /** INTERSECT ALL / EXCEPT ALL — the bag-semantics set ops (U3's
    * distinct forms are covered by q_intersect_except); identical text
    * both engines. */
  val q_setops_all = QuerySpec(
    "q_setops_all", Seq("U3"),
    (s, d) => sql(s, d, setopsAllSql), Some(setopsAllSql))

  private lazy val setopsAllSql = """
    WITH a AS (SELECT o_custkey AS k FROM orders
               WHERE o_orderpriority = '1-URGENT'),
         b AS (SELECT o_custkey AS k FROM orders
               WHERE o_orderstatus = 'F')
    SELECT 'intersect' AS op, k, COUNT(*) AS n FROM
      (SELECT k FROM a INTERSECT ALL SELECT k FROM b) x GROUP BY k
    UNION ALL
    SELECT 'except' AS op, k, COUNT(*) AS n FROM
      (SELECT k FROM a EXCEPT ALL SELECT k FROM b) y GROUP BY k
    ORDER BY op, k"""

  /** Statistical moments + correlation (ROLAP analytics staples):
    * mean/variance/stddev/Pearson-r phrased over DECIMAL-exact raw
    * moments, so every double op after the exact sums is the same
    * fixed IEEE expression on both engines — unlike the built-in
    * stddev/corr aggregates, whose partition-order-dependent float
    * accumulation can't hash-match across engines. The final Pearson-r
    * is additionally quantized to 12 decimals: its longer double
    * expression is the one place engines' instruction choices (e.g.
    * fused multiply-add) can shift the last ulp. */
  val q_moments = QuerySpec(
    "q_moments", Seq("A6", "A1"),
    (s, d) => sql(s, d, momentsSql),
    Some(momentsSql))

  private lazy val momentsSql = """
    SELECT l_returnflag, n,
      sx / n AS mean_qty,
      (sxx - sx*sx/n) / (n - 1) AS var_qty,
      sqrt((sxx - sx*sx/n) / (n - 1)) AS stddev_qty,
      CAST(CAST((n*sxy - sx*sy) /
        (sqrt(n*sxx - sx*sx) * sqrt(n*syy - sy*sy)) AS DECIMAL(14,12))
        AS DOUBLE) AS corr_qty_price
    FROM (
      SELECT l_returnflag,
        CAST(COUNT(*) AS DOUBLE) AS n,
        CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
        CAST(SUM(CAST(l_quantity*l_quantity AS DECIMAL(18,4))) AS DOUBLE)
          AS sxx,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
        CAST(SUM(CAST(l_extendedprice*l_extendedprice AS DECIMAL(22,4)))
             AS DOUBLE) AS syy,
        CAST(SUM(CAST(l_quantity*l_extendedprice AS DECIMAL(22,4)))
             AS DOUBLE) AS sxy
      FROM lineitem GROUP BY l_returnflag) m
    ORDER BY l_returnflag"""

  /** The union-fusion optimizer rule under the oracle: the NAIVE
    * two-join UNION ALL text (reference docs/sql调优.md:59-71) runs
    * with [[graft.plans.UnionFusedJoinRewrite]] active (one fused join
    * in the plan — asserted in ExtensionsSpec), and must produce the
    * identical multiset the oracle computes from the same naive SQL. */
  val q_union_fusion_rule = QuerySpec(
    "q_union_fusion_rule", Seq("J9", "U1"),
    (s, d) => {
      Engine.registerAll(s, d)
      // scope the experimental rewrite to THIS query (see withRule)
      withRule(s, graft.plans.UnionFusedJoinRewrite,
          "spark.graft.unionFusedJoin.enabled") {
        s.sql("""SELECT event_id, user_id, pmod(event_id, 50) AS alt_id
                 FROM events""").createOrReplaceTempView("fusion_log")
        s.sql("""SELECT c_custkey, c_name FROM customer
                 WHERE c_custkey < 40""").createOrReplaceTempView("fusion_dim")
        s.sql("""
          SELECT l.event_id, l.user_id, d.c_name
          FROM fusion_log l JOIN fusion_dim d ON l.user_id = d.c_custkey
          UNION ALL
          SELECT l.event_id, l.user_id, d.c_name
          FROM fusion_log l JOIN fusion_dim d ON l.alt_id = d.c_custkey
          ORDER BY event_id, user_id, c_name""")
      }
    },
    Some("""WITH fusion_log AS (
              SELECT event_id, user_id, mod(event_id, 50) AS alt_id
              FROM events),
            fusion_dim AS (
              SELECT c_custkey, c_name FROM customer WHERE c_custkey < 40)
            SELECT l.event_id, l.user_id, d.c_name
            FROM fusion_log l JOIN fusion_dim d ON l.user_id = d.c_custkey
            UNION ALL
            SELECT l.event_id, l.user_id, d.c_name
            FROM fusion_log l JOIN fusion_dim d ON l.alt_id = d.c_custkey
            ORDER BY event_id, user_id, c_name"""))

  /** Exact percentile/median (OLAP staple alongside A11's sketch) via
    * [[Relational.sortedPercentiles]] — distributed sort + rank-bracket
    * interpolation rather than Spark's built-in per-group value-map
    * `percentile` (which buffered ~600k boxed map entries per group on
    * the near-unique price column and GC-thrashed the bench; the sort
    * path spills instead of OOMing at scale). Both this and DuckDB's
    * `quantile_cont` interpolate `v_lo + (v_hi - v_lo) * frac` at
    * p*(n-1), so values agree bitwise. */
  val q_percentile = QuerySpec(
    "q_percentile", Seq("A6", "A11"),
    (s, d) => {
      val li = Engine.table(s, d, "lineitem")
      val qty = Relational.sortedPercentiles(li, Seq("l_returnflag"),
        "l_quantity", Seq(0.5 -> "med_qty", 0.9 -> "p90_qty"))
      val price = Relational.sortedPercentiles(li, Seq("l_returnflag"),
        "l_extendedprice", Seq(0.25 -> "p25_price"))
      qty.join(price, Seq("l_returnflag")).orderBy("l_returnflag")
    },
    Some("""SELECT l_returnflag,
                   quantile_cont(l_quantity, 0.5) AS med_qty,
                   quantile_cont(l_quantity, 0.9) AS p90_qty,
                   quantile_cont(l_extendedprice, 0.25) AS p25_price
            FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""))

  /** Huge-group exact percentile: the SELECTION-BY-FILTERING strategy
    * of [[Relational.sortedPercentiles]] under the driver's oracle
    * gate. At 100 TB a single group can exceed 2^22 rows, where the
    * window shape's one-task-per-group sort is the bottleneck; the
    * selection path brackets each target with a percentile_approx
    * sketch, verifies the bracket with an exact counting scan, and
    * collects only the tiny in-window candidate set — three linear
    * scans, no full sort. Test SFs can't produce a naturally huge
    * group, so `hugeGroupMin = 0` forces EVERY group down the path the
    * production threshold reserves for >2^22-row groups; the oracle is
    * the same quantile_cont comparison as q_percentile, and
    * RoutingSpec pins `lastPercentilePath == "selection"`. Includes a
    * null group key: the all-huge shortcut must emit it (SQL GROUP BY
    * keeps null groups). */
  val q_percentile_huge = QuerySpec(
    "q_percentile_huge", Seq("A6", "A11"),
    (s, d) => {
      val li = Engine.table(s, d, "lineitem")
        .withColumn("rf", when(col("l_linenumber") === 7,
          lit(null: String)).otherwise(col("l_returnflag")))
      Relational.sortedPercentiles(li, Seq("rf"), "l_extendedprice",
          Seq(0.25 -> "p25_price", 0.5 -> "med_price", 0.9 -> "p90_price"),
          hugeGroupMin = 0L)
        .orderBy(col("rf").asc_nulls_first)
    },
    Some("""SELECT CASE WHEN l_linenumber = 7 THEN NULL
                        ELSE l_returnflag END AS rf,
                   quantile_cont(l_extendedprice, 0.25) AS p25_price,
                   quantile_cont(l_extendedprice, 0.5) AS med_price,
                   quantile_cont(l_extendedprice, 0.9) AS p90_price
            FROM lineitem GROUP BY 1 ORDER BY rf NULLS FIRST"""))

  /** Approximate percentile (t-digest-style sketch, the scale path for
    * quantiles over 100 TB): oracle pins the exact side; the approx
    * side is asserted in-engine within 1%% of exact (same pattern as
    * A11's approx distinct). */
  val q_approx_percentile = QuerySpec(
    "q_approx_percentile", Seq("A11"),
    (s, d) => Engine.table(s, d, "lineitem")
      .groupBy("l_returnflag")
      .agg(expr("percentile(l_quantity, 0.5)").as("med_exact"),
        percentile_approx(col("l_quantity"), lit(0.5), lit(10000))
          .as("med_approx"))
      .select(col("l_returnflag"), col("med_exact"),
        (abs(col("med_approx") - col("med_exact")) <=
          greatest(col("med_exact") * 0.01, lit(0.5)))
          .as("approx_within_1pct"))
      .orderBy("l_returnflag"),
    Some("""SELECT l_returnflag,
                   quantile_cont(l_quantity, 0.5) AS med_exact,
                   TRUE AS approx_within_1pct
            FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""))

  /** A15: count-distinct materialization (docs/sql调优.md:93-113) —
    * hoist the distinct set into a temp table once, then every
    * downstream branch aggregates the (much smaller) temp table. The
    * oracle computes the same result directly from the base table,
    * proving the hoist is result-identical. */
  val q_cd_materialize = QuerySpec(
    "q_cd_materialize", Seq("A15", "S4", "U1"),
    (s, d) => {
      Engine.registerAll(s, d)
      s.sql("CREATE DATABASE IF NOT EXISTS tmp")
      Warehouse.dropManaged(s, "tmp.cd_uu")
      s.sql("""CREATE TABLE tmp.cd_uu USING parquet AS
               SELECT DISTINCT event_type, user_id FROM events""")
      s.sql("""SELECT event_type, COUNT(user_id) AS uu FROM tmp.cd_uu
               GROUP BY event_type
               UNION ALL
               SELECT 'all' AS event_type, COUNT(DISTINCT user_id) AS uu
               FROM tmp.cd_uu
               ORDER BY event_type""")
    },
    Some("""SELECT event_type, COUNT(DISTINCT user_id) AS uu FROM events
            GROUP BY event_type
            UNION ALL
            SELECT 'all' AS event_type, COUNT(DISTINCT user_id) AS uu
            FROM events
            ORDER BY event_type"""))

  /** O2: ordinal GROUP BY / ORDER BY through spark.sql
    * (docs/sql规范.md:72). */
  val q_ordinal_sort = QuerySpec(
    "q_ordinal_sort", Seq("O2"),
    (s, d) => sql(s, d,
      "SELECT event_type, count(*) AS n FROM events GROUP BY 1 ORDER BY 2 DESC, 1"),
    Some("SELECT event_type, count(*) AS n FROM events GROUP BY 1 ORDER BY 2 DESC, 1"))

  /** O3: DISTRIBUTE BY — partition-only repartition on a column
    * (docs/explain.md:108); result-identical to the plain query, the
    * hash exchange is asserted in PlanShapeSpec. */
  val q_distribute_by = QuerySpec(
    "q_distribute_by", Seq("O3"),
    (s, d) => sql(s, d,
      """SELECT user_id, count(*) AS n FROM
         (SELECT user_id FROM events DISTRIBUTE BY user_id)
         GROUP BY user_id ORDER BY user_id"""),
    Some("""SELECT user_id, count(*) AS n FROM events
            GROUP BY user_id ORDER BY user_id"""))

  /** O3 dialect: DISTRIBUTE BY + SORT BY — the classic Hive
    * partition-then-locally-sort idiom, verbatim HiveQL text through
    * spark.sql. Partition-local order is not SQL-observable, so the
    * oracle is the plain aggregate; the hash exchange + NON-global
    * sort pair is pinned in PlanShapeSpec (a global sort here would be
    * the wrong plan — SORT BY exists to avoid the range-partition
    * step at cluster scale). */
  val q_sort_by = QuerySpec(
    "q_sort_by", Seq("O3", "O1"),
    (s, d) => sql(s, d,
      """SELECT user_id, event_type, n FROM
         (SELECT user_id, event_type, count(*) AS n FROM events
          GROUP BY user_id, event_type
          DISTRIBUTE BY user_id SORT BY user_id, event_type)
         ORDER BY user_id, event_type"""),
    Some("""SELECT user_id, event_type, count(*) AS n FROM events
            GROUP BY user_id, event_type
            ORDER BY user_id, event_type"""))

  /** O3 dialect: CLUSTER BY — shorthand for DISTRIBUTE BY x SORT BY x,
    * verbatim HiveQL text through spark.sql; same oracle/plan-pin
    * discipline as [[q_sort_by]]. */
  val q_cluster_by = QuerySpec(
    "q_cluster_by", Seq("O3", "O1"),
    (s, d) => sql(s, d,
      """SELECT user_id, n FROM
         (SELECT user_id, count(*) AS n FROM events
          GROUP BY user_id CLUSTER BY user_id)
         ORDER BY user_id"""),
    Some("""SELECT user_id, count(*) AS n FROM events
            GROUP BY user_id ORDER BY user_id"""))

  /** X3 dialect: LATERAL VIEW explode — the HiveQL generator syntax
    * (the DataFrame explode() path is covered by q_range_join and the
    * token pipeline; this pins the verbatim SQL surface). Top-20 token
    * frequency over the documents corpus; (n DESC, tok) is a total
    * order so the LIMIT is deterministic. */
  val q_lateral_view = QuerySpec(
    "q_lateral_view", Seq("X3"),
    (s, d) => sql(s, d,
      """SELECT tok, count(*) AS n, count(DISTINCT doc_id) AS docs
         FROM documents LATERAL VIEW explode(split(text, ' ')) t AS tok
         GROUP BY tok ORDER BY n DESC, tok LIMIT 20"""),
    Some("""SELECT tok, count(*) AS n, count(DISTINCT doc_id) AS docs
            FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                  FROM documents)
            GROUP BY tok ORDER BY n DESC, tok LIMIT 20"""))

  /** X1: the `spark.udf.register` user surface (docs/实时数仓.md:42) —
    * a scalar Scala UDF invoked from SQL text; oracle replicates the
    * logic as a CASE expression. (Perf-critical built-ins stay native
    * Expressions; this exercises the user extension point.) */
  val q_udf_register = QuerySpec(
    "q_udf_register", Seq("X1"),
    (s, d) => {
      Engine.registerAll(s, d)
      s.udf.register("tok_bucket", (t: String) => {
        val n = if (t == null) 0 else t.split(" ").length
        if (n < 30) "short" else if (n < 80) "mid" else "long"
      })
      s.sql("""SELECT tok_bucket(text) AS bucket, count(*) AS n
               FROM documents GROUP BY 1 ORDER BY 1""")
    },
    Some("""SELECT CASE WHEN len(string_split(text, ' ')) < 30 THEN 'short'
                        WHEN len(string_split(text, ' ')) < 80 THEN 'mid'
                        ELSE 'long' END AS bucket, count(*) AS n
            FROM documents GROUP BY 1 ORDER BY 1"""))

  /** X2's Aggregator: sum of squares over longs — exact integer
    * arithmetic so the result is bitwise-stable on any partitioning. */
  private object SumSqAgg extends Aggregator[Long, Long, Long] {
    def zero: Long = 0L
    def reduce(b: Long, a: Long): Long = b + a * a
    def merge(b1: Long, b2: Long): Long = b1 + b2
    def finish(r: Long): Long = r
    def bufferEncoder: org.apache.spark.sql.Encoder[Long] = Encoders.scalaLong
    def outputEncoder: org.apache.spark.sql.Encoder[Long] = Encoders.scalaLong
  }

  /** X2: UDAF via `Aggregator` + `udaf()` registered for SQL
    * (docs/画像开发方案.md:21-22: custom logic over aggregated
    * quantities). */
  val q_udaf_sumsq = QuerySpec(
    "q_udaf_sumsq", Seq("X2"),
    (s, d) => {
      Engine.registerAll(s, d)
      s.udf.register("sum_sq", udaf(SumSqAgg, Encoders.scalaLong))
      s.sql("""SELECT event_type,
                      sum_sq(CAST(round(value * 100) AS BIGINT)) AS ssq
               FROM events GROUP BY event_type ORDER BY event_type""")
    },
    Some("""SELECT event_type,
                   CAST(SUM(CAST(round(value * 100) AS BIGINT) *
                            CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS ssq
            FROM events GROUP BY event_type ORDER BY event_type"""))

  /** P11: literal correlated scalar subquery in WHERE through spark.sql
    * (docs/sql规范.md:22-24 family). Integer count → deterministic. */
  val q_correlated_scalar = QuerySpec(
    "q_correlated_scalar", Seq("P11"),
    (s, d) => sql(s, d,
      """SELECT c_custkey, c_name FROM customer c
         WHERE 5 < (SELECT COUNT(*) FROM orders WHERE o_custkey = c_custkey)
         ORDER BY c_custkey"""),
    Some("""SELECT c_custkey, c_name FROM customer c
            WHERE 5 < (SELECT COUNT(*) FROM orders WHERE o_custkey = c_custkey)
            ORDER BY c_custkey"""))

  /** S6: CSV lake ingestion — write the dim as CSV (headers, quoting),
    * read it back with an explicit schema (schema-on-write for the
    * warehouse per docs/数据湖.md:28-31), compare to the parquet truth. */
  val q_csv_roundtrip = QuerySpec(
    "q_csv_roundtrip", Seq("S6"),
    (s, d) => {
      val n = Engine.table(s, d, "nation")
      val dir = s"${System.getProperty("java.io.tmpdir")}/graft_csv_" +
        d.replaceAll("[^A-Za-z0-9]", "_")
      n.write.mode("overwrite").option("header", "true").csv(dir)
      s.read.option("header", "true").schema(n.schema).csv(dir)
        .orderBy("n_nationkey")
    },
    Some("SELECT * FROM nation ORDER BY n_nationkey"))

  /** S6: ORC warehouse-format roundtrip (Spark's built-in ORC
    * datasource — the reference's Hive warehouse commonly stores ORC
    * alongside parquet/text). Types survive exactly, so the oracle is
    * the original table. */
  val q_orc_roundtrip = QuerySpec(
    "q_orc_roundtrip", Seq("S6"),
    (s, d) => {
      val sup = Engine.table(s, d, "supplier")
      val dir = s"${System.getProperty("java.io.tmpdir")}/graft_orc_" +
        d.replaceAll("[^A-Za-z0-9]", "_")
      sup.write.mode("overwrite").orc(dir)
      s.read.orc(dir).orderBy("s_suppkey")
    },
    Some("SELECT * FROM supplier ORDER BY s_suppkey"))

  /** S6: XML lake ingestion roundtrip — Spark 4's built-in XML
    * datasource (the spark-xml package merged into core). Write the dim
    * as one `<nation>` row element per record, read it back with the
    * parquet schema (schema-on-write, same contract as the CSV path;
    * XML text needs explicit types and omits null elements, which the
    * schema restores). The reference's lake mandates semi-structured
    * text ingestion alongside csv/json (docs/数据湖.md:28-31). */
  val q_xml_roundtrip = QuerySpec(
    "q_xml_roundtrip", Seq("S6"),
    (s, d) => {
      val n = Engine.table(s, d, "nation")
      val dir = s"${System.getProperty("java.io.tmpdir")}/graft_xml_" +
        d.replaceAll("[^A-Za-z0-9]", "_")
      n.write.mode("overwrite").option("rowTag", "nation")
        .option("rootTag", "nations").xml(dir)
      s.read.option("rowTag", "nation").schema(n.schema).xml(dir)
        .orderBy("n_nationkey")
    },
    Some("SELECT * FROM nation ORDER BY n_nationkey"))

  /** S6: JSON lake ingestion roundtrip. */
  val q_json_roundtrip = QuerySpec(
    "q_json_roundtrip", Seq("S6", "F11"),
    (s, d) => {
      val n = Engine.table(s, d, "nation")
      val dir = s"${System.getProperty("java.io.tmpdir")}/graft_json_" +
        d.replaceAll("[^A-Za-z0-9]", "_")
      n.write.mode("overwrite").json(dir)
      s.read.schema(n.schema).json(dir).orderBy("n_nationkey")
    },
    Some("SELECT * FROM nation ORDER BY n_nationkey"))

  /** A12 generalized via the custom whole-operator plan
    * ([[graft.plans.TopKPerGroup]]): top-3 latest events per user with
    * a bounded heap instead of a full window sort. Oracle expresses the
    * same result as the row_number form. */
  val q_topk_per_group = QuerySpec(
    "q_topk_per_group", Seq("A12", "O5", "W6"),
    (s, d) => graft.plans.TopKPerGroup.topKPerGroup(
        Engine.table(s, d, "events")
          .select("event_id", "user_id", "ts", "event_type"),
        keys = Seq(col("user_id")),
        order = Seq(col("ts").desc, col("event_id").desc), k = 3)
      .select(col("event_id"), col("user_id"), col("event_type"))
      .orderBy("user_id", "event_id"),
    Some("""SELECT event_id, user_id, event_type FROM (
              SELECT event_id, user_id, event_type,
                     row_number() OVER (PARTITION BY user_id
                       ORDER BY ts DESC, event_id DESC) AS rn
              FROM events) x
            WHERE rn <= 3 ORDER BY user_id, event_id"""))

  /** As-of (point-in-time) join: every event picks the user's most
    * recent purchase value at or before it. Spark side is the composed
    * window form ([[graft.operators.Relational.asofJoinBackward]] — one
    * shuffle, no range probe); DuckDB's native ASOF LEFT JOIN is the
    * oracle. Right side deduped per (user, ts) so tie-breaking is
    * well-defined in both engines. */
  val q_asof_join = QuerySpec(
    "q_asof_join", Seq("J-asof", "W1", "U5"),
    (s, d) => {
      val e = Engine.table(s, d, "events")
      val l = e.select("event_id", "user_id", "ts")
      val r = graft.operators.Relational.dedupKeepFirst(
          e.filter(col("event_type") === "purchase"),
          Seq("user_id", "ts"), Seq(col("event_id")))
        .select(col("user_id"), col("ts"),
          col("value").as("last_purchase_value"))
      graft.operators.Relational.asofJoinBackward(
          l, r, "user_id", "ts", "ts", Seq("last_purchase_value"))
        .select("event_id", "user_id", "last_purchase_value")
        .orderBy("event_id")
    },
    Some("""WITH l AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
                       FROM events),
                 r AS (SELECT user_id, ts, value AS last_purchase_value FROM
                         (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value,
                                 row_number() OVER (PARTITION BY user_id, CAST(ts AS TIMESTAMP)
                                                    ORDER BY event_id) AS rn
                          FROM events WHERE event_type = 'purchase')
                       WHERE rn = 1)
            SELECT l.event_id, l.user_id, r.last_purchase_value
            FROM l ASOF LEFT JOIN r
              ON l.user_id = r.user_id AND l.ts >= r.ts
            ORDER BY l.event_id"""))

  /** Range join via bucketization
    * ([[graft.operators.Relational.bucketedRangeJoin]]): lineitem
    * prices against order-derived price bands. The oracle is the naive
    * BETWEEN join — results must be identical; only the PLAN differs
    * (equi-join on buckets vs nested loop). */
  val q_range_join = QuerySpec(
    "q_range_join", Seq("J-range", "X3"),
    (s, d) => {
      val points = Engine.table(s, d, "lineitem")
        .filter(pmod(col("l_orderkey"), lit(50)) === 0)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_extendedprice"))
      val bands = Engine.table(s, d, "orders")
        .filter(pmod(col("o_orderkey"), lit(500)) === 0)
        .select(col("o_orderkey").as("band_id"),
          col("o_totalprice").as("lo"),
          (col("o_totalprice") + 20000.0).as("hi"))
      graft.operators.Relational.bucketedRangeJoin(
          points, "l_extendedprice", bands, "lo", "hi",
          bucketWidth = 20000.0)
        .select("l_orderkey", "l_linenumber", "band_id")
        .orderBy("l_orderkey", "l_linenumber", "band_id")
    },
    Some("""SELECT l_orderkey, l_linenumber, band_id
            FROM (SELECT l_orderkey, l_linenumber, l_extendedprice
                  FROM lineitem WHERE mod(l_orderkey, 50) = 0) p
            JOIN (SELECT o_orderkey AS band_id, o_totalprice AS lo,
                         o_totalprice + 20000.0 AS hi
                  FROM orders WHERE mod(o_orderkey, 500) = 0) b
              ON p.l_extendedprice BETWEEN b.lo AND b.hi
            ORDER BY l_orderkey, l_linenumber, band_id"""))

  /** The mega-WHERE rewrite (docs/sql调优.md:118-124): a huge OR/IN
    * predicate becomes a broadcast semi-join against a small values
    * table — the filter values travel as data, not as a
    * deeply-nested predicate operator tree. Oracle expresses the same
    * selection as the literal IN list. */
  val q_bigwhere_join = QuerySpec(
    "q_bigwhere_join", Seq("P6", "J5", "J4"),
    (s, d) => {
      import s.implicits._
      val keys = (0 until 200).map(_ * 7L).toDF("k")
      Engine.table(s, d, "events")
        .join(broadcast(keys), col("user_id") === col("k"), "left_semi")
        .groupBy("user_id").agg(count(lit(1)).as("n"))
        .orderBy("user_id")
    },
    Some(s"""SELECT user_id, COUNT(*) AS n FROM events
             WHERE user_id IN (${(0 until 200).map(_ * 7L).mkString(",")})
             GROUP BY user_id ORDER BY user_id"""))

  /** Runtime-filter join ([[Relational.bloomPrefilterJoin]]): Bloom
    * sketch of the build side's keys cuts the probe side before its
    * shuffle; the exact equi-join after keeps the result identical to
    * a plain join, which is exactly what the oracle checks. */
  val q_bloom_prefilter_join = QuerySpec(
    "q_bloom_prefilter_join", Seq("J1", "J5"),
    (s, d) => {
      val build = Engine.table(s, d, "orders")
        .filter(col("o_orderpriority") === "1-URGENT" &&
          col("o_orderdate") >= lit("1997-06-01").cast("timestamp_ntz"))
      val probe = Engine.table(s, d, "lineitem")
      Relational.bloomPrefilterJoin(probe, build, "l_orderkey", "o_orderkey")
        .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("ym"))
        .agg(count(lit(1)).as("n"),
          dsum4(col("l_extendedprice") * (lit(1) - col("l_discount")))
            .as("revenue"))
        .orderBy("ym")
    },
    Some("""SELECT strftime(o_orderdate, '%Y-%m') AS ym, COUNT(*) AS n,
              CAST(SUM(CAST(l_extendedprice*(1-l_discount)
                   AS DECIMAL(18,4))) AS DOUBLE) AS revenue
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            WHERE o_orderpriority = '1-URGENT'
              AND o_orderdate >= TIMESTAMP '1997-06-01'
            GROUP BY 1 ORDER BY 1"""))

  /** W6 breadth: the analytic/ranking window surface beyond
    * row_number/rank/lag — ntile, percent_rank, cume_dist, lead.
    * Ordered by the unique o_orderkey so tile assignment and lead are
    * deterministic (percent_rank/cume_dist are tie-stable regardless). */
  val q_window_analytic = QuerySpec(
    "q_window_analytic", Seq("W6"),
    (s, d) => {
      val w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
      Engine.table(s, d, "orders").filter(col("o_custkey") < 50)
        .select(col("o_custkey"), col("o_orderkey"),
          ntile(4).over(w).as("quartile"),
          percent_rank().over(w).as("pr"),
          cume_dist().over(w).as("cd"),
          lead(col("o_orderkey"), 1).over(w).as("next_ok"))
        .orderBy("o_custkey", "o_orderkey")
    },
    Some("""SELECT o_custkey, o_orderkey,
              ntile(4) OVER w AS quartile,
              percent_rank() OVER w AS pr,
              cume_dist() OVER w AS cd,
              lead(o_orderkey, 1) OVER w AS next_ok
            FROM orders WHERE o_custkey < 50
            WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey)
            ORDER BY o_custkey, o_orderkey"""))

  /** Hive's collect_list/collect_set aggregate surface. Collected
    * arrays are sorted then joined to strings so the result is
    * order-deterministic and engine-neutral (DuckDB's ordered
    * string_agg computes the same value without list types). */
  val q_collect_agg = QuerySpec(
    "q_collect_agg", Seq("A7"),
    (s, d) => Engine.table(s, d, "orders")
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("n"),
        array_join(sort_array(collect_list(col("o_orderpriority"))), ",")
          .as("pri_all"),
        array_join(sort_array(collect_set(col("o_orderstatus"))), ",")
          .as("status_set"))
      .orderBy("o_custkey"),
    Some("""SELECT o_custkey, COUNT(*) AS n,
              string_agg(o_orderpriority, ',' ORDER BY o_orderpriority)
                AS pri_all,
              string_agg(DISTINCT o_orderstatus, ','
                         ORDER BY o_orderstatus) AS status_set
            FROM orders GROUP BY o_custkey ORDER BY o_custkey"""))

  /** Higher-order collection functions (transform/filter/aggregate/
    * zip_with) reduced to scalars so the oracle can recompute them with
    * plain arithmetic: same IEEE operation order on both sides. These
    * are the codegen'd lambda forms ANN/dedup ops build on. */
  val q_collection_funcs = QuerySpec(
    "q_collection_funcs", Seq("F6"),
    (s, d) => {
      val arr = array(col("l_quantity"), col("l_extendedprice"),
        col("l_discount"))
      Engine.table(s, d, "lineitem")
        .filter(col("l_orderkey") % 50 === 0)
        .select(col("l_orderkey"), col("l_linenumber"),
          aggregate(filter(transform(arr, x => x * x), x => x > 1.0),
            lit(0.0), (a, x) => a + x).as("sq_sum"),
          array_max(arr).as("arr_max"),
          size(filter(arr, x => x > 5.0)).as("n_big"),
          aggregate(zip_with(arr, reverse(arr), (x, y) => x * y),
            lit(0.0), (a, x) => a + x).as("zp"))
        .orderBy("l_orderkey", "l_linenumber")
    },
    Some("""SELECT l_orderkey, l_linenumber,
              (((0.0 + CASE WHEN l_quantity*l_quantity > 1.0
                       THEN l_quantity*l_quantity ELSE 0.0 END)
                + CASE WHEN l_extendedprice*l_extendedprice > 1.0
                       THEN l_extendedprice*l_extendedprice ELSE 0.0 END)
                + CASE WHEN l_discount*l_discount > 1.0
                       THEN l_discount*l_discount ELSE 0.0 END) AS sq_sum,
              greatest(l_quantity, l_extendedprice, l_discount) AS arr_max,
              CAST((CASE WHEN l_quantity > 5.0 THEN 1 ELSE 0 END)
                 + (CASE WHEN l_extendedprice > 5.0 THEN 1 ELSE 0 END)
                 + (CASE WHEN l_discount > 5.0 THEN 1 ELSE 0 END) AS INT)
                AS n_big,
              (((0.0 + l_quantity*l_discount)
                + l_extendedprice*l_extendedprice)
                + l_discount*l_quantity) AS zp
            FROM lineitem WHERE l_orderkey % 50 = 0
            ORDER BY l_orderkey, l_linenumber"""))

  /** String-function breadth beyond q_scalar_funcs: regex extract/
    * replace-all, translate, pad, position, reverse, repeat,
    * substring — the everyday Hive string surface. */
  val q_string_funcs2 = QuerySpec(
    "q_string_funcs2", Seq("F1", "F2"),
    (s, d) => Engine.table(s, d, "part")
      .select(col("p_partkey"),
        regexp_extract(col("p_name"), "([a-z]+)$", 1).as("last_word"),
        regexp_replace(col("p_brand"), "[0-9]+", "#").as("brand_masked"),
        translate(col("p_type"), "AEO", "aeo").as("type_tr"),
        lpad(col("p_size").cast("string"), 4, "0").as("size_pad"),
        instr(col("p_name"), "widget").cast("long").as("widget_pos"),
        reverse(col("p_name")).as("rev_name"),
        repeat(col("p_brand"), 2).as("brand2"),
        substring(col("p_name"), 2, 5).as("name_sub"))
      .orderBy("p_partkey"),
    Some("""SELECT p_partkey,
              regexp_extract(p_name, '([a-z]+)$', 1) AS last_word,
              regexp_replace(p_brand, '[0-9]+', '#', 'g') AS brand_masked,
              translate(p_type, 'AEO', 'aeo') AS type_tr,
              lpad(CAST(p_size AS VARCHAR), 4, '0') AS size_pad,
              strpos(p_name, 'widget') AS widget_pos,
              reverse(p_name) AS rev_name,
              repeat(p_brand, 2) AS brand2,
              substring(p_name, 2, 5) AS name_sub
            FROM part ORDER BY p_partkey"""))

  /** A12 via sketch: approx_top_k heavy hitters. `maxItemsTracked`
    * far exceeds the column's cardinality, so the sketch is EXACT here
    * and oracle-comparable against the exact GROUP BY top-k; the
    * high-cardinality (genuinely approximate) regime is asserted in
    * ScalaTest instead. */
  val q_approx_topk = QuerySpec(
    "q_approx_topk", Seq("A11", "A12"),
    (s, d) => sql(s, d,
      """SELECT t.x.item AS event_type, t.x.count AS n
         FROM (SELECT explode(approx_top_k(event_type, 5, 100)) AS x
               FROM events) t
         ORDER BY n DESC, event_type"""),
    Some("""SELECT event_type, COUNT(*) AS n FROM events
            GROUP BY event_type ORDER BY n DESC, event_type LIMIT 5"""))

  /** ANSI MERGE INTO surface ([[Warehouse.mergeInto]]): one statement
    * updating matched keys, deleting matched keys flagged by the
    * source, and inserting unmatched source rows — the reference's
    * updatable accumulating snapshot (docs/数据模型.md:25) as SQL
    * semantics. The oracle recomputes the merge with plain relational
    * algebra (left join + NOT IN + UNION ALL). */
  val q_merge_upsert = QuerySpec(
    "q_merge_upsert", Seq("S4", "J5", "J6"),
    (s, d) => {
      val t = Engine.table(s, d, "orders").select(
        col("o_orderkey").as("k"), col("o_orderstatus").as("st"),
        col("o_totalprice").cast("double").as("tp"))
      val upd = t.filter(col("k") % 10 === 0 && col("k") % 13 =!= 0)
        .select(col("k"), col("st"), (col("tp") * 2).as("tp"))
      val del = t.filter(col("k") % 13 === 0)
        .select(col("k"), col("st"), lit(-1.0).as("tp"))
      val ins = t.filter(col("k") % 17 === 0)
        .select((col("k") + 100000000L).as("k"), lit("N").as("st"),
          lit(1.0).as("tp"))
      Warehouse.mergeInto(t, upd.unionByName(del).unionByName(ins),
          keys = Seq("k"),
          whenMatchedUpdate = Map("tp" -> col("s.tp")),
          whenNotMatchedInsert = true,
          whenMatchedDelete = Some(col("s.tp") < 0))
        .orderBy("k")
    },
    Some("""WITH t AS (SELECT o_orderkey AS k, o_orderstatus AS st,
                              CAST(o_totalprice AS DOUBLE) AS tp FROM orders),
            upd AS (SELECT k, tp*2 AS tp FROM t
                    WHERE k % 10 = 0 AND k % 13 <> 0),
            del AS (SELECT k FROM t WHERE k % 13 = 0),
            ins AS (SELECT k + 100000000 AS k, 'N' AS st,
                           CAST(1.0 AS DOUBLE) AS tp FROM t WHERE k % 17 = 0)
            SELECT k, st, tp FROM (
              SELECT t.k, t.st, COALESCE(u.tp, t.tp) AS tp
              FROM t LEFT JOIN upd u ON t.k = u.k
              WHERE t.k NOT IN (SELECT k FROM del)
              UNION ALL SELECT k, st, tp FROM ins)
            ORDER BY k"""))

  /** The same MERGE semantics driven from the reference's LITERAL
    * statement text through [[Warehouse.mergeIntoSql]] — the
    * updatable-snapshot workflow (docs/数据模型.md:25, docs/kudu.md:19)
    * pasted verbatim, with clause-order (first-match-wins) semantics:
    * the DELETE branch precedes the unconditional UPDATE. Different
    * moduli than q_merge_upsert so the two queries can't share a
    * cached result. */
  val q_merge_sql = QuerySpec(
    "q_merge_sql", Seq("S4", "J5", "J6"),
    (s, d) => {
      val t = Engine.table(s, d, "orders").select(
        col("o_orderkey").as("k"), col("o_orderstatus").as("st"),
        col("o_totalprice").cast("double").as("tp"))
      val upd = t.filter(col("k") % 7 === 0 && col("k") % 11 =!= 0)
        .select(col("k"), col("st"), (col("tp") + 5).as("tp"))
      val del = t.filter(col("k") % 11 === 0)
        .select(col("k"), col("st"), lit(-1.0).as("tp"))
      val ins = t.filter(col("k") % 19 === 0)
        .select((col("k") + 200000000L).as("k"), lit("N").as("st"),
          lit(2.0).as("tp"))
      Warehouse.mergeIntoSql(s,
        """MERGE INTO snap t USING delta s ON t.k = s.k
           WHEN MATCHED AND s.tp < 0 THEN DELETE
           WHEN MATCHED THEN UPDATE SET tp = s.tp
           WHEN NOT MATCHED THEN INSERT *""",
        Map("snap" -> t,
          "delta" -> upd.unionByName(del).unionByName(ins)))
        .orderBy("k")
    },
    Some("""WITH t AS (SELECT o_orderkey AS k, o_orderstatus AS st,
                              CAST(o_totalprice AS DOUBLE) AS tp FROM orders),
            upd AS (SELECT k, tp+5 AS tp FROM t
                    WHERE k % 7 = 0 AND k % 11 <> 0),
            del AS (SELECT k FROM t WHERE k % 11 = 0),
            ins AS (SELECT k + 200000000 AS k, 'N' AS st,
                           CAST(2.0 AS DOUBLE) AS tp FROM t WHERE k % 19 = 0)
            SELECT k, st, tp FROM (
              SELECT t.k, t.st, COALESCE(u.tp, t.tp) AS tp
              FROM t LEFT JOIN upd u ON t.k = u.k
              WHERE t.k NOT IN (SELECT k FROM del)
              UNION ALL SELECT k, st, tp FROM ins)
            ORDER BY k"""))

  /** One-time-per-JVM-per-scale-dir guard for the routing fixture.
    * computeIfAbsent blocks a concurrent caller losing the insert race
    * until the winner's build finishes — a bare ready-set would let the
    * loser query the summary table mid-build. */
  private val aggRouteReady =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()

  /** Build `dws.agg_route_<sf>` (a (returnflag, linestatus, shipdate)
    * summary of lineitem) and register its route once per JVM per
    * scale dir; returns the fact table. */
  private def ensureAggRoute(s: SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = {
    val fact = Engine.table(s, d, "lineitem")
    val suf = d.replaceAll("[^A-Za-z0-9]", "_")
    val tbl = s"dws.agg_route_$suf"
    aggRouteReady.computeIfAbsent(tbl, _ => {
      s.sql("CREATE DATABASE IF NOT EXISTS dws")
      Warehouse.dropManaged(s, tbl)
      val dims = Seq("l_returnflag", "l_linestatus", "l_shipdate")
      val measures = Seq(
        sum(dec2(col("l_quantity"))) -> "s_qty",
        sum(dec4(col("l_extendedprice") * (lit(1) - col("l_discount"))))
          -> "s_disc",
        count(lit(1)) -> "cnt",
        count(col("l_quantity")) -> "cnt_qty",
        min(col("l_quantity")) -> "mn_qty",
        max(col("l_quantity")) -> "mx_qty")
      val aggs = measures.map { case (c, n) => c.as(n) }
      fact.groupBy(dims.map(col): _*).agg(aggs.head, aggs.tail: _*)
        .write.format("parquet").saveAsTable(tbl)
      graft.plans.AggRouting.register(fact, s.table(tbl), dims,
        measures.toMap)
      java.lang.Boolean.TRUE
    })
    fact
  }

  /** Automatic aggregate routing (SURVEY §4.1 rule 3; the Kylin
    * capability of reference docs/olap.md:24): the query below is the
    * NAIVE aggregate over the fact table — filter, coarser grouping,
    * decimal sums, avg-as-sum/count, count/min/max — and the oracle
    * runs exactly that SQL on the raw fact in DuckDB. The engine
    * answers it from `dws.agg_route_<sf>`, a materialized
    * (returnflag, linestatus, shipdate) summary: [[graft.plans
    * .AggRouteRewrite]] proves subsumption (grouping ⊆ summary dims,
    * filter on dims only, every aggregate decomposable over the
    * registered canonical measures) and re-aggregates the summary —
    * sum of sums, sum of counts, min of mins, max of maxes — with
    * output ids/types preserved. Hash-equality against the raw-fact
    * oracle is the proof the route is exact; ExtensionsSpec pins the
    * plan actually scanning the summary, not the fact. */
  val q_agg_route = QuerySpec(
    "q_agg_route", Seq("A1", "A6", "S4"),
    (s, d) => {
      val fact = ensureAggRoute(s, d)
      withAggRouting(s) {
        fact
          .filter(col("l_shipdate") >= lit("1994-01-01").cast("timestamp_ntz") &&
            col("l_shipdate") < lit("1997-01-01").cast("timestamp_ntz"))
          .groupBy("l_returnflag", "l_linestatus")
          .agg(
            dsum2(col("l_quantity")).as("sum_qty"),
            dsum4(col("l_extendedprice") * (lit(1) - col("l_discount")))
              .as("sum_disc_price"),
            davg2(col("l_quantity")).as("avg_qty"),
            count(lit(1)).as("n"),
            min(col("l_quantity")).as("min_qty"),
            max(col("l_quantity")).as("max_qty"))
          .orderBy("l_returnflag", "l_linestatus")
      }
    },
    Some("""SELECT l_returnflag, l_linestatus,
              CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
              CAST(SUM(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
              CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)/COUNT(l_quantity) AS avg_qty,
              COUNT(*) AS n,
              MIN(l_quantity) AS min_qty,
              MAX(l_quantity) AS max_qty
            FROM lineitem
            WHERE l_shipdate >= '1994-01-01' AND l_shipdate < '1997-01-01' 
            GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus"""))

  /** Routing composes with HAVING and post-aggregate expressions: the
    * outer Filter/Project reference the Aggregate's output attributes,
    * which the rewrite preserves (ids, names, types), so only the
    * inner Aggregate changes. Proves A8-over-route; the oracle is the
    * same naive HAVING SQL on the raw fact. */
  val q_agg_route_having = QuerySpec(
    "q_agg_route_having", Seq("A1", "A8"),
    (s, d) => {
      ensureAggRoute(s, d)
      withAggRouting(s) {
        Engine.table(s, d, "lineitem")
          .groupBy("l_returnflag", "l_linestatus")
          .agg(count(lit(1)).as("n"),
            dsum2(col("l_quantity")).as("sum_qty"))
          .filter(col("n") > 1000)
          .select(col("l_returnflag"), col("l_linestatus"), col("n"),
            (col("sum_qty") / col("n")).as("qty_per_item"))
          .orderBy("l_returnflag", "l_linestatus")
      }
    },
    Some("""SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
              CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)/COUNT(*)
                AS qty_per_item
            FROM lineitem
            GROUP BY l_returnflag, l_linestatus
            HAVING COUNT(*) > 1000
            ORDER BY l_returnflag, l_linestatus"""))

  /** Incremental cube maintenance (the Kylin segment build,
    * docs/olap.md:24): the summary is built from the PRE-CUTOFF fact
    * only, the post-cutoff rows arrive as a delta, and
    * [[graft.plans.AggRouting.maintainSummary]] folds the delta in by
    * aggregating ONLY the delta and re-combining — the fact is never
    * rescanned. The query then re-aggregates the maintained summary;
    * the oracle computes the same aggregate from the FULL raw fact in
    * DuckDB. Hash-equality proves maintained == rebuilt exactly. */
  val q_agg_route_incremental = QuerySpec(
    "q_agg_route_incremental", Seq("A1", "A6", "S4"),
    (s, d) => {
      val fact = Engine.table(s, d, "lineitem")
      val cutoff = lit("1996-01-01").cast("timestamp_ntz")
      val dims = Seq("l_returnflag", "l_linestatus", "l_shipdate")
      val measures = Map[org.apache.spark.sql.Column, String](
        sum(dec2(col("l_quantity"))) -> "s_qty",
        count(lit(1)) -> "cnt",
        min(col("l_quantity")) -> "mn_qty",
        max(col("l_quantity")) -> "mx_qty",
        // exact-distinct cube measure: the id SET maintains through
        // the delta (bitmap OR), which a count-distinct value cannot
        graft.functions.Bitmap64.bitmapBuild(col("l_suppkey")) -> "bm_supp")
      val aggCols = measures.toSeq.map { case (c, n) => c.as(n) }
      val oldSummary = fact.filter(col("l_shipdate") < cutoff)
        .groupBy(dims.map(col): _*).agg(aggCols.head, aggCols.tail: _*)
      val delta = fact.filter(col("l_shipdate") >= cutoff)
      val maintained = graft.plans.AggRouting.maintainSummary(
        oldSummary, delta, dims, measures)
      import graft.functions.Bitmap64.{bitmapCard, bitmapMerge}
      maintained.groupBy("l_returnflag", "l_linestatus")
        .agg(sum(col("s_qty")).cast("double").as("sum_qty"),
          sum(col("cnt")).as("n"),
          min(col("mn_qty")).as("min_qty"),
          max(col("mx_qty")).as("max_qty"),
          bitmapCard(bitmapMerge(col("bm_supp"))).as("n_suppliers"))
        .orderBy("l_returnflag", "l_linestatus")
    },
    Some("""SELECT l_returnflag, l_linestatus,
              CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
              COUNT(*) AS n,
              MIN(l_quantity) AS min_qty,
              MAX(l_quantity) AS max_qty,
              CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS n_suppliers
            FROM lineitem
            GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus"""))

  /** Run `body` with the opt-in optimizer `rule` active under its
    * `flag`, scoped to the frame `body` returns: remember the session's
    * prior rules and flag, inject the rule, pin the optimized plan
    * while it is active (plans are lazy — restoring before optimization
    * would silently run the naive plan), then restore in finally so
    * later queries in the same session keep exact default semantics.
    * When the session was built with GraftExtensions the rule is
    * already injected — appending to extraOptimizations would register
    * it twice, so it is only added when absent. */
  private[graft] def withRule(s: SparkSession,
      rule: Rule[LogicalPlan], flag: String)(body: => DataFrame)
      : DataFrame = {
    val exp = s.experimental
    val priorRules = exp.extraOptimizations
    val builtWithExtensions = s.conf
      .getOption("spark.sql.extensions").exists(
        _.contains("graft.plans.GraftExtensions"))
    val priorFlag = s.conf.getOption(flag)
    if (!builtWithExtensions && !priorRules.contains(rule))
      exp.extraOptimizations = priorRules :+ rule
    s.conf.set(flag, "true")
    try {
      val out = body
      out.queryExecution.executedPlan // pin while the rule is active
      out
    } finally {
      priorFlag match {
        case Some(v) => s.conf.set(flag, v)
        case None => s.conf.unset(flag)
      }
      exp.extraOptimizations = priorRules
    }
  }

  /** Run `body` with [[graft.plans.AggRouteRewrite]] active. */
  private[graft] def withAggRouting(s: SparkSession)(body: => DataFrame)
      : DataFrame =
    withRule(s, graft.plans.AggRouteRewrite,
      "spark.graft.aggRouting.enabled")(body)

  /** Build `dws.audience_route_<sf>` (a per-event_type summary of
    * events whose distinct-user measure is a BITMAP, not a count) and
    * register its route once per JVM per scale dir; returns events. */
  private def ensureAudienceRoute(s: SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = {
    import graft.functions.Bitmap64.bitmapBuild
    val fact = Engine.table(s, d, "events")
    val suf = d.replaceAll("[^A-Za-z0-9]", "_")
    val tbl = s"dws.audience_route_$suf"
    aggRouteReady.computeIfAbsent(tbl, _ => {
      s.sql("CREATE DATABASE IF NOT EXISTS dws")
      Warehouse.dropManaged(s, tbl)
      val measures = Map(bitmapBuild(col("user_id")) -> "bm_users",
        count(lit(1)) -> "cnt")
      val aggs = measures.toSeq.map { case (c, n) => c.as(n) }
      fact.groupBy("event_type").agg(aggs.head, aggs.tail: _*)
        .write.format("parquet").saveAsTable(tbl)
      graft.plans.AggRouting.register(fact, s.table(tbl),
        Seq("event_type"), measures)
      java.lang.Boolean.TRUE
    })
    fact
  }

  /** COUNT(DISTINCT) answered FROM the cube (Kylin's precise
    * count-distinct, docs/olap.md:24): the query is the naive
    * `events.groupBy(event_type).agg(countDistinct(user_id), count)`
    * over the raw fact — and the oracle runs exactly that SQL on raw
    * events in DuckDB. The engine routes it onto
    * `dws.audience_route_<sf>`, whose distinct-user measure is a
    * serialized [[graft.functions.Bitmap64]]: [[graft.plans
    * .AggRouteRewrite]] rewrites COUNT(DISTINCT user_id) to
    * bitmap_card(bitmap_merge(bm_users)) — exact, because the bitmap
    * IS the distinct id set and OR is its combine, which plain count
    * partials don't have. ExtensionsSpec pins the routed plan reading
    * the summary, not the fact. */
  val q_agg_route_distinct = QuerySpec(
    "q_agg_route_distinct", Seq("A3", "A15"),
    (s, d) => {
      val fact = ensureAudienceRoute(s, d)
      withAggRouting(s) {
        fact.groupBy("event_type")
          .agg(countDistinct(col("user_id")).as("exact_users"),
            count(lit(1)).as("n"))
          .orderBy("event_type")
      }
    },
    Some("""SELECT event_type,
              CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
              COUNT(*) AS n
            FROM events GROUP BY event_type ORDER BY event_type"""))

  /** Bitmap audience combination (用户分群, docs/画像开发方案.md:6;
    * Druid/Kylin bitmap indexes, docs/olap.md:25,35): per-day per-tag
    * user bitmaps built in ONE aggregation pass over events (the when()
    * forms share the grouping), then "purchased AND clicked",
    * "viewed NOT clicked", "purchased OR clicked" audiences computed as
    * bitmap arithmetic on the aggregated binaries — no second pass over
    * user-level rows. The oracle recomputes the same counts row-level
    * in DuckDB via per-(day,user) BOOL_OR flags. At 100 TB the fact is
    * touched once; every audience combination after that is arithmetic
    * on kilobyte-scale binaries. */
  val q_audience_bitmap = QuerySpec(
    "q_audience_bitmap", Seq("A3", "A4", "A13"),
    (s, d) => {
      import graft.functions.Bitmap64._
      Engine.table(s, d, "events")
        .groupBy(col("ts").cast("date").as("day"))
        .agg(
          bitmapBuild(when(col("event_type") === "purchase",
            col("user_id"))).as("bm_p"),
          bitmapBuild(when(col("event_type") === "click",
            col("user_id"))).as("bm_c"),
          bitmapBuild(when(col("event_type") === "view",
            col("user_id"))).as("bm_v"))
        .select(col("day"),
          bitmapCard(bitmapAnd(col("bm_p"), col("bm_c")))
            .as("purchase_and_click"),
          bitmapCard(bitmapAndNot(col("bm_v"), col("bm_c")))
            .as("view_not_click"),
          bitmapCard(bitmapOr(col("bm_p"), col("bm_c")))
            .as("purchase_or_click"))
        .orderBy("day")
    },
    Some("""SELECT day,
              CAST(SUM(CASE WHEN hp AND hc THEN 1 ELSE 0 END) AS BIGINT)
                AS purchase_and_click,
              CAST(SUM(CASE WHEN hv AND NOT hc THEN 1 ELSE 0 END) AS BIGINT)
                AS view_not_click,
              CAST(SUM(CASE WHEN hp OR hc THEN 1 ELSE 0 END) AS BIGINT)
                AS purchase_or_click
            FROM (SELECT CAST(ts AS DATE) AS day, user_id,
                    BOOL_OR(event_type = 'purchase') AS hp,
                    BOOL_OR(event_type = 'click') AS hc,
                    BOOL_OR(event_type = 'view') AS hv
                  FROM events GROUP BY 1, 2)
            GROUP BY day ORDER BY day"""))

  /** Additive exact count-distinct (Kylin precise count-distinct,
    * docs/olap.md:24-25): stage 1 collapses events to one bitmap per
    * (day, event_type) segment — the materializable cube cell; stage 2
    * OR-merges segment bitmaps up to event_type grain and reads the
    * EXACT distinct user count off the merged bitmap. Hash-equality
    * with COUNT(DISTINCT) from raw proves the additivity: distinct
    * counts roll up through bitmap union without rescanning the fact,
    * which plain COUNT(DISTINCT) partials cannot do. */
  val q_bitmap_cd_rollup = QuerySpec(
    "q_bitmap_cd_rollup", Seq("A3", "A15"),
    (s, d) => {
      import graft.functions.Bitmap64._
      val seg = Engine.table(s, d, "events")
        .groupBy(col("ts").cast("date").as("day"), col("event_type"))
        .agg(bitmapBuild(col("user_id")).as("bm"))
      seg.groupBy("event_type")
        .agg(bitmapCard(bitmapMerge(col("bm"))).as("exact_users"),
          count(lit(1)).as("n_segments"))
        .orderBy("event_type")
    },
    Some("""SELECT event_type,
              CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
              CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_segments
            FROM events GROUP BY event_type ORDER BY event_type"""))

  /** Global-dictionary exact count-distinct over STRINGS (Kylin
    * precise count-distinct on a string column, docs/olap.md:24 —
    * bitmaps index integers, so Kylin builds an append-only global
    * dict first; [[graft.operators.GlobalDict]] is that dict). The
    * dict is deliberately built in TWO segment loads (even custkeys,
    * then extend with the rest) to run the stability contract —
    * existing ids must survive the append — inside the oracle-checked
    * path: an id collision or reassignment would break the bitmap
    * cardinality and hash-mismatch. Encode is one dict join; the
    * per-nation exact distinct is then integer-bitmap arithmetic. */
  val q_global_dict_bitmap = QuerySpec(
    "q_global_dict_bitmap", Seq("A3", "A15", "F2"),
    (s, d) => {
      import graft.functions.Bitmap64._
      val cust = Engine.table(s, d, "customer")
      val dict = operators.GlobalDict.extend(
        operators.GlobalDict.build(
          cust.filter(col("c_custkey") % 2 === 0), "c_name"),
        cust.filter(col("c_custkey") % 2 === 1), "c_name")
      operators.GlobalDict.encode(cust, dict, "c_name")
        .join(Engine.table(s, d, "nation"),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(bitmapCard(bitmapBuild(col("dict_id"))).as("exact_names"),
          count(lit(1)).as("n_cust"))
        .orderBy("n_name")
    },
    Some("""SELECT n_name,
              CAST(COUNT(DISTINCT c_name) AS BIGINT) AS exact_names,
              COUNT(*) AS n_cust
            FROM customer JOIN nation ON c_nationkey = n_nationkey
            GROUP BY n_name ORDER BY n_name"""))

  /** Versioned-table commit protocol end-to-end
    * ([[graft.operators.VersionedTable]]): three commits (base, append,
    * overwrite) plus a rollback on a fresh table root, then every
    * version time-travel-read and aggregated — the oracle recomputes
    * each snapshot's content directly from lineitem (v2 = v1's filter
    * OR the appended filter; v4 = rollback target v1). Exercises the
    * whole log-of-snapshots protocol: claimed version numbers, append
    * accumulation, overwrite replacement, append-only rollback. */
  val q_versioned_time_travel = QuerySpec(
    "q_versioned_time_travel", Seq("S9", "S4"),
    (s, d) => {
      import graft.operators.VersionedTable
      val li = Engine.table(s, d, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity")
      val root = java.nio.file.Files
        .createTempDirectory("graft_vtab_q").toString
      VersionedTable.commit(s, root, li.filter(col("l_quantity") <= 10))
      VersionedTable.commit(s, root, li.filter(col("l_quantity") >= 45))
      VersionedTable.commit(s, root,
        li.filter(col("l_quantity").between(20, 25)), overwrite = true)
      VersionedTable.rollback(s, root, 1L)
      def agg(v: Long) = VersionedTable.read(s, root, Some(v))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("long")).as("qty"))
        .select(lit(v).as("version"), col("n"), col("qty"))
      Engine.collectAndClean(
        agg(1).unionByName(agg(2)).unionByName(agg(3)).unionByName(agg(4))
          .orderBy("version"), root)
    },
    Some("""WITH q AS (SELECT CAST(l_quantity AS BIGINT) AS q
                       FROM lineitem)
            SELECT CAST(1 AS BIGINT) AS version,
                   COUNT(*) AS n,
                   CAST(SUM(q) AS BIGINT) AS qty FROM q WHERE q <= 10
            UNION ALL
            SELECT CAST(2 AS BIGINT), COUNT(*),
                   CAST(SUM(q) AS BIGINT) FROM q
            WHERE q <= 10 OR q >= 45
            UNION ALL
            SELECT CAST(3 AS BIGINT), COUNT(*),
                   CAST(SUM(q) AS BIGINT) FROM q
            WHERE q BETWEEN 20 AND 25
            UNION ALL
            SELECT CAST(4 AS BIGINT), COUNT(*),
                   CAST(SUM(q) AS BIGINT) FROM q WHERE q <= 10
            ORDER BY version"""))

  /** SQL-TEXT time travel ([[graft.plans.VTabTimeTravelRule]]): the
    * reference's surface is SQL-first, so `VERSION AS OF` /
    * `TIMESTAMP AS OF` / bare-latest must work as `spark.sql(...)`
    * text over `vtab.`/path`` identifiers, not only through the Scala
    * API. Spark's parser natively produces the time-travel relation
    * (SPARK-37219); the injected resolution rule resolves it through
    * the SAME `versionAsOf` effective-commit-time rules as the Scala
    * path, so this query is the SQL twin of q_versioned_time_travel.
    * The timestamp leg reads `describeHistory` for v2's commit time —
    * resolution at exactly that wall-clock time must pick v2. */
  val q_versioned_sql_asof = QuerySpec(
    "q_versioned_sql_asof", Seq("S9", "S4"),
    (s, d) => {
      import graft.operators.VersionedTable
      val li = Engine.table(s, d, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity")
      val root = java.nio.file.Files
        .createTempDirectory("graft_vtab_sql").toString
      VersionedTable.commit(s, root, li.filter(col("l_quantity") <= 10))
      VersionedTable.commit(s, root, li.filter(col("l_quantity") >= 45))
      // the literal must render in the SESSION zone (Engine.tsLiteral):
      // Timestamp.toString uses the JVM default zone while the AS OF
      // cast parses with spark.sql.session.timeZone — hours off on any
      // non-UTC host
      val t2 = Engine.tsLiteral(s, VersionedTable.describeHistory(s, root)
        .filter(col("version") === 2L).head().getTimestamp(1))
      def agg(label: String, from: String) = s.sql(
        s"""SELECT '$label' AS leg, COUNT(*) AS n,
                   CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
            FROM $from""")
      Engine.collectAndClean(
        agg("v1", s"vtab.`$root` VERSION AS OF 1")
          .unionByName(agg("ts2",
            s"vtab.`$root` TIMESTAMP AS OF '$t2'"))
          .unionByName(agg("latest", s"vtab.`$root`"))
          .orderBy("leg"), root)
    },
    Some("""WITH q AS (SELECT CAST(l_quantity AS BIGINT) AS q
                       FROM lineitem)
            SELECT 'latest' AS leg, COUNT(*) AS n,
                   CAST(SUM(q) AS BIGINT) AS qty FROM q
            WHERE q <= 10 OR q >= 45
            UNION ALL
            SELECT 'ts2', COUNT(*), CAST(SUM(q) AS BIGINT) FROM q
            WHERE q <= 10 OR q >= 45
            UNION ALL
            SELECT 'v1', COUNT(*), CAST(SUM(q) AS BIGINT) FROM q
            WHERE q <= 10
            ORDER BY leg"""))

  /** SQL-text CDC + history ([[graft.plans.VTabTimeTravelRule]]):
    * `vtab_changes.`/path` VERSION AS OF n` = every change STRICTLY
    * AFTER version n (exclusive of the anchor — NOT Delta's inclusive
    * startingVersion; see the rule's scaladoc hazard note), resolved
    * through the same
    * [[graft.operators.VersionedTable.changesBetween]] dir-diff as
    * the Scala API; `vtab_history.`/path`` = DESCRIBE HISTORY.
    * Three append commits; the CDC leg anchored at v1 must see
    * exactly the rows of v2+v3 as inserts, and the history leg's
    * version arithmetic is closed-form. */
  val q_versioned_cdc_sql = QuerySpec(
    "q_versioned_cdc_sql", Seq("S9", "S4"),
    (s, d) => {
      import graft.operators.VersionedTable
      val li = Engine.table(s, d, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity")
      val root = java.nio.file.Files
        .createTempDirectory("graft_vtab_cdc").toString
      VersionedTable.commit(s, root, li.filter(col("l_quantity") <= 10))
      VersionedTable.commit(s, root, li.filter(col("l_quantity") >= 45))
      VersionedTable.commit(s, root,
        li.filter(col("l_quantity").between(20, 25)))
      val cdc = s.sql(
        s"""SELECT CONCAT('cdc_', change) AS leg, COUNT(*) AS n,
                   CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
            FROM vtab_changes.`$root` VERSION AS OF 1
            GROUP BY change""")
      val hist = s.sql(
        s"""SELECT 'history' AS leg, COUNT(*) AS n,
                   CAST(SUM(version) AS BIGINT) AS qty
            FROM vtab_history.`$root`""")
      Engine.collectAndClean(
        cdc.unionByName(hist).orderBy("leg"), root)
    },
    Some("""WITH q AS (SELECT CAST(l_quantity AS BIGINT) AS q
                       FROM lineitem)
            SELECT 'cdc_insert' AS leg, COUNT(*) AS n,
                   CAST(SUM(q) AS BIGINT) AS qty FROM q
            WHERE q >= 45 OR q BETWEEN 20 AND 25
            UNION ALL
            SELECT 'history', 3, 6
            ORDER BY leg"""))

  /** SQL-text WRITE routing ([[graft.plans.VTabInsertCommand]]): the
    * reference's surface is SQL-first, so a SQL-only user must be able
    * to WRITE a version, not only read one — `INSERT INTO vtab.`/p``
    * appends as the next version and `INSERT OVERWRITE` replaces the
    * snapshot, both routed through
    * [[graft.operators.VersionedTable.commit]] (manifest CAS, schema
    * gate) instead of resolving to the snapshot's parquet relation
    * (which would write files past the manifest). Three versions: a
    * Scala commit, a SQL append, a SQL replace — each read back via
    * SQL time travel; DuckDB recomputes all three snapshots
    * closed-form. */
  val q_versioned_sql_insert = QuerySpec(
    "q_versioned_sql_insert", Seq("S9", "S4"),
    (s, d) => {
      import graft.operators.VersionedTable
      val li = Engine.table(s, d, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity")
      val root = java.nio.file.Files
        .createTempDirectory("graft_vtab_ins").toString
      VersionedTable.commit(s, root, li.filter(col("l_quantity") <= 10))
      li.createOrReplaceTempView("vtab_ins_src")
      s.sql(s"""INSERT INTO vtab.`$root`
                SELECT l_orderkey, l_linenumber, l_quantity
                FROM vtab_ins_src WHERE l_quantity >= 45""")
      s.sql(s"""INSERT OVERWRITE vtab.`$root`
                SELECT l_orderkey, l_linenumber, l_quantity
                FROM vtab_ins_src WHERE l_quantity BETWEEN 20 AND 25""")
      def agg(v: Long) = s.sql(
        s"""SELECT CAST($v AS BIGINT) AS version, COUNT(*) AS n,
                   CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
            FROM vtab.`$root` VERSION AS OF $v""")
      Engine.collectAndClean(
        agg(1).unionByName(agg(2)).unionByName(agg(3))
          .orderBy("version"), root)
    },
    Some("""WITH q AS (SELECT CAST(l_quantity AS BIGINT) AS q
                       FROM lineitem)
            SELECT CAST(1 AS BIGINT) AS version,
                   COUNT(*) AS n,
                   CAST(SUM(q) AS BIGINT) AS qty FROM q WHERE q <= 10
            UNION ALL
            SELECT CAST(2 AS BIGINT), COUNT(*),
                   CAST(SUM(q) AS BIGINT) FROM q
            WHERE q <= 10 OR q >= 45
            UNION ALL
            SELECT CAST(3 AS BIGINT), COUNT(*),
                   CAST(SUM(q) AS BIGINT) FROM q
            WHERE q BETWEEN 20 AND 25
            ORDER BY version"""))

  /** BOUNDED SQL CDC (`table_changes('/path', from[, to])`, registered
    * by [[graft.plans.GraftExtensions]]): the TVF pins the SAME
    * from/to semantics as the Scala
    * [[graft.operators.VersionedTable.changesBetween]] — exclusive of
    * `from`, inclusive of `to`, defaulting `to` to the latest commit.
    * Three appends; the bounded leg (1, 2) must see exactly v2's
    * inserts, and the open 2-arg leg (1) must equal the AS-OF
    * identifier form (v2 + v3). DuckDB recomputes both closed-form. */
  val q_versioned_cdc_bounded = QuerySpec(
    "q_versioned_cdc_bounded", Seq("S9", "S4"),
    (s, d) => {
      import graft.operators.VersionedTable
      val li = Engine.table(s, d, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity")
      val root = java.nio.file.Files
        .createTempDirectory("graft_vtab_tvf").toString
      VersionedTable.commit(s, root, li.filter(col("l_quantity") <= 10))
      VersionedTable.commit(s, root, li.filter(col("l_quantity") >= 45))
      VersionedTable.commit(s, root,
        li.filter(col("l_quantity").between(20, 25)))
      val bounded = s.sql(
        s"""SELECT CONCAT('v2_', change) AS leg, COUNT(*) AS n,
                   CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
            FROM table_changes('$root', 1, 2) GROUP BY change""")
      val open = s.sql(
        s"""SELECT CONCAT('all_', change) AS leg, COUNT(*) AS n,
                   CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
            FROM table_changes('$root', 1) GROUP BY change""")
      Engine.collectAndClean(
        bounded.unionByName(open).orderBy("leg"), root)
    },
    Some("""WITH q AS (SELECT CAST(l_quantity AS BIGINT) AS q
                       FROM lineitem)
            SELECT 'v2_insert' AS leg, COUNT(*) AS n,
                   CAST(SUM(q) AS BIGINT) AS qty FROM q WHERE q >= 45
            UNION ALL
            SELECT 'all_insert', COUNT(*), CAST(SUM(q) AS BIGINT) FROM q
            WHERE q >= 45 OR q BETWEEN 20 AND 25
            ORDER BY leg"""))

  /** SQL-text DML routing ([[graft.plans.VTabDeleteCommand]] /
    * [[graft.plans.VTabUpdateCommand]] / [[graft.plans.VTabMergeCommand]]):
    * the full write surface as SQL — UPDATE with an alias-qualified
    * expression, predicate DELETE, and the canonical MERGE upsert
    * (composite ON keys, matched-delete flag, whole-row update,
    * insert) — each routed through the matching manifest-writing API
    * (updateWhere / deleteWhere / merge: dir-granularity copy-on-write,
    * first-writer-wins), every intermediate version still readable via
    * SQL time travel. Built on orders — the synthetic testdata's ONE
    * unique-key table (o_orderkey; lineitem's (okey, lnum) pairs
    * duplicate here) — so key-based upsert semantics band-decompose
    * over o_orderkey arithmetic and DuckDB replays all four snapshots
    * closed-form. */
  val q_versioned_sql_dml = QuerySpec(
    "q_versioned_sql_dml", Seq("S9", "S4"),
    (s, d) => {
      import graft.operators.VersionedTable
      val o = Engine.table(s, d, "orders")
        .select("o_orderkey", "o_orderstatus")
      val root = java.nio.file.Files
        .createTempDirectory("graft_vtab_dml").toString
      // each leg reads the version ACTUALLY committed by its
      // statement: deleteWhere/updateWhere deliberately skip the
      // empty commit when nothing matches (a no-op DML on a quiet
      // partition must not mint versions), so on a degenerate corpus
      // a leg re-reads the prior snapshot instead of throwing
      def latest = VersionedTable.versions(s, root).last
      VersionedTable.commit(s, root,
        o.filter(col("o_orderkey") % 10 <= 3))
      val v1 = latest
      s.sql(s"""UPDATE vtab.`$root` t
                SET o_orderstatus = concat(t.o_orderstatus, '!')
                WHERE t.o_orderkey % 10 = 0""")
      val v2 = latest
      s.sql(s"DELETE FROM vtab.`$root` WHERE o_orderkey % 10 = 1")
      val v3 = latest
      // merge source: %10=2 keys are matched (delete the %100=2
      // subset via the source-side flag, whole-row update the rest),
      // %10=4 keys are fresh inserts
      o.select(col("o_orderkey"),
          when(col("o_orderkey") % 100 === 2, lit("D"))
            .otherwise(lit("M")).as("o_orderstatus"))
        .filter(col("o_orderkey") % 10 === 2 ||
          col("o_orderkey") % 10 === 4)
        .createOrReplaceTempView("vtab_dml_merge_src")
      s.sql(s"""MERGE INTO vtab.`$root` t USING vtab_dml_merge_src s
                ON t.o_orderkey = s.o_orderkey
                WHEN MATCHED AND s.o_orderstatus = 'D' THEN DELETE
                WHEN MATCHED THEN UPDATE SET *
                WHEN NOT MATCHED THEN INSERT *""")
      val v4 = latest
      def agg(label: Long, v: Long) = s.sql(
        s"""SELECT CAST($label AS BIGINT) AS version, COUNT(*) AS n,
                   CAST(SUM(o_orderkey) AS BIGINT) AS ks,
                   COUNT(*) FILTER (WHERE o_orderstatus LIKE '%!')
                     AS bang,
                   COUNT(*) FILTER (WHERE o_orderstatus = 'M') AS m
            FROM vtab.`$root` VERSION AS OF $v""")
      Engine.collectAndClean(
        agg(1, v1).unionByName(agg(2, v2)).unionByName(agg(3, v3))
          .unionByName(agg(4, v4)).orderBy("version"), root)
    },
    Some("""WITH o AS (SELECT o_orderkey AS k, o_orderstatus AS st
                       FROM orders),
                 v1 AS (SELECT k, st FROM o WHERE k % 10 <= 3),
                 v2 AS (SELECT k, CASE WHEN k % 10 = 0 THEN st || '!'
                                       ELSE st END AS st FROM v1),
                 v3 AS (SELECT k, st FROM v2 WHERE k % 10 <> 1),
                 v4 AS (SELECT k, CASE WHEN k % 10 = 2 THEN 'M'
                                       ELSE st END AS st
                        FROM v3 WHERE k % 100 <> 2
                        UNION ALL
                        SELECT k, 'M' FROM o WHERE k % 10 = 4)
            SELECT CAST(1 AS BIGINT) AS version, COUNT(*) AS n,
                   CAST(SUM(k) AS BIGINT) AS ks,
                   COUNT(*) FILTER (st LIKE '%!') AS bang,
                   COUNT(*) FILTER (st = 'M') AS m FROM v1
            UNION ALL
            SELECT CAST(2 AS BIGINT), COUNT(*), CAST(SUM(k) AS BIGINT),
                   COUNT(*) FILTER (st LIKE '%!'),
                   COUNT(*) FILTER (st = 'M') FROM v2
            UNION ALL
            SELECT CAST(3 AS BIGINT), COUNT(*), CAST(SUM(k) AS BIGINT),
                   COUNT(*) FILTER (st LIKE '%!'),
                   COUNT(*) FILTER (st = 'M') FROM v3
            UNION ALL
            SELECT CAST(4 AS BIGINT), COUNT(*), CAST(SUM(k) AS BIGINT),
                   COUNT(*) FILTER (st LIKE '%!'),
                   COUNT(*) FILTER (st = 'M') FROM v4
            ORDER BY version"""))

  /** Versioned-table ADDITIVE SCHEMA EVOLUTION
    * ([[graft.operators.VersionedTable.commit]] with mergeSchema):
    * commit a narrow (k, v) snapshot, evolve it with an added `w`
    * column, and read both the latest snapshot (older rows null-fill
    * w — counted and summed to prove the merge-schema read) and the
    * pre-evolution version (its narrow column set pinned via a
    * column-count output). Closed-form over orders. */
  val q_versioned_evolve = QuerySpec(
    "q_versioned_evolve", Seq("S9", "S4"),
    (s, d) => {
      import graft.operators.VersionedTable
      val o = Engine.table(s, d, "orders")
        .select(col("o_orderkey").as("k"), col("o_custkey").as("v"))
      val b = col("k") % 10
      val root = java.nio.file.Files
        .createTempDirectory("graft_vtab_e").toString
      val v1 = VersionedTable.commit(s, root, o.filter(b <= 3))
      val v2 = VersionedTable.commit(s, root,
        o.filter(b >= 8).withColumn("w", col("k") * 2),
        mergeSchema = true)
      val latest = VersionedTable.read(s, root, Some(v2))
        .agg(count(lit(1)).as("n"),
          count(col("w")).as("n_w"),
          sum(col("w")).as("sum_w"),
          sum(col("v")).as("sum_v"))
        .select(lit("latest").as("label"), col("n"), col("n_w"),
          col("sum_w"), col("sum_v"))
      val before = VersionedTable.read(s, root, Some(v1))
      val narrow = before
        .agg(count(lit(1)).as("n"),
          lit(before.columns.length.toLong).as("n_w"), // column COUNT
          lit(-1L).as("sum_w"), sum(col("v")).as("sum_v"))
        .select(lit("pre_evolution").as("label"), col("n"), col("n_w"),
          col("sum_w"), col("sum_v"))
      Engine.collectAndClean(
        latest.unionByName(narrow).orderBy("label"), root)
    },
    Some("""WITH q AS (SELECT o_orderkey % 10 AS b,
                              CAST(o_orderkey AS BIGINT) AS k,
                              CAST(o_custkey AS BIGINT) AS v
                       FROM orders)
            SELECT 'latest' AS label,
                   COUNT(*) AS n,
                   CAST(COUNT(*) FILTER (b >= 8) AS BIGINT) AS n_w,
                   CAST(SUM(k * 2) FILTER (b >= 8) AS BIGINT) AS sum_w,
                   CAST(SUM(v) AS BIGINT) AS sum_v
            FROM q WHERE b <= 3 OR b >= 8
            UNION ALL
            SELECT 'pre_evolution', COUNT(*), CAST(2 AS BIGINT),
                   CAST(-1 AS BIGINT), CAST(SUM(v) AS BIGINT)
            FROM q WHERE b <= 3
            ORDER BY label"""))

  /** Versioned-table CHECK CONSTRAINTS
    * ([[graft.operators.VersionedTable.addConstraint]], Delta `ALTER
    * TABLE ... ADD CONSTRAINT` semantics): the full enforcement
    * lifecycle, oracle-gated — add a constraint over a committed
    * snapshot, prove a violating append / merge-upsert / UPDATE are all
    * rejected WITHOUT publishing a version (the `p4_rejected` row
    * counts the three refusals), prove valid writes still land with the
    * constraint carried in every manifest, then drop it and land the
    * formerly-rejected shape. Aggregates at five pinned phases must
    * equal DuckDB recomputing the surviving row sets. */
  val q_versioned_constraints = QuerySpec(
    "q_versioned_constraints", Seq("S9", "S4"),
    (s, d) => {
      import graft.operators.VersionedTable
      val o = Engine.table(s, d, "orders")
        .select(col("o_orderkey").cast("long").as("k"),
          col("o_custkey").cast("long").as("v"))
      val b = col("k") % 10
      val root = java.nio.file.Files
        .createTempDirectory("graft_vtab_c").toString
      VersionedTable.commit(s, root, o.filter(b <= 3))             // v1
      VersionedTable.addConstraint(s, root, "v_pos", "v >= 0")     // v2
      var rejected = 0L
      def attempt(f: => Unit): Unit =
        try { f; () } catch { case _: IllegalArgumentException =>
          rejected += 1 }
      attempt(VersionedTable.commit(s, root, o.filter(b === 8)
        .withColumn("v", -col("v") - 1)))                 // rejected
      VersionedTable.commit(s, root, o.filter(b === 8))            // v3
      attempt(VersionedTable.merge(s, root,
        o.filter(b === 0).withColumn("v", lit(-5L)),
        keys = Seq("k")))                                 // rejected
      attempt(VersionedTable.updateWhere(s, root, b === 1,
        Map("v" -> lit(-7L))))                            // rejected
      VersionedTable.dropConstraint(s, root, "v_pos")              // v4
      VersionedTable.commit(s, root,
        o.filter(b === 9).withColumn("v", -col("k")))              // v5
      def snap(v: Long, label: String) = {
        val cons = VersionedTable.constraintsOf(s, root, Some(v))
          .size.toLong
        VersionedTable.read(s, root, Some(v))
          .agg(count(lit(1)).as("n"), sum(col("v")).as("sum_v"))
          .select(lit(label).as("label"), col("n"), col("sum_v"),
            lit(cons).as("n_cons"))
      }
      // literal row — no point aggregating a snapshot just to discard it
      val p4 = s.range(1).select(lit("p4_rejected").as("label"),
        lit(rejected).as("n"), lit(0L).as("sum_v"), lit(1L).as("n_cons"))
      Engine.collectAndClean(
        snap(1L, "p1_initial").unionByName(snap(2L, "p2_constrained"))
          .unionByName(snap(3L, "p3_appended")).unionByName(p4)
          .unionByName(snap(5L, "p5_final")).orderBy("label"), root)
    },
    Some("""WITH q AS (SELECT CAST(o_orderkey AS BIGINT) AS k,
                              CAST(o_custkey AS BIGINT) AS v,
                              o_orderkey % 10 AS b
                       FROM orders)
            SELECT 'p1_initial' AS label, COUNT(*) AS n,
                   CAST(SUM(v) AS BIGINT) AS sum_v,
                   CAST(0 AS BIGINT) AS n_cons FROM q WHERE b <= 3
            UNION ALL
            SELECT 'p2_constrained', COUNT(*), CAST(SUM(v) AS BIGINT),
                   CAST(1 AS BIGINT) FROM q WHERE b <= 3
            UNION ALL
            SELECT 'p3_appended', COUNT(*), CAST(SUM(v) AS BIGINT),
                   CAST(1 AS BIGINT) FROM q WHERE b <= 3 OR b = 8
            UNION ALL
            SELECT 'p4_rejected', CAST(3 AS BIGINT), CAST(0 AS BIGINT),
                   CAST(1 AS BIGINT)
            UNION ALL
            SELECT 'p5_final', COUNT(*),
                   CAST(SUM(CASE WHEN b = 9 THEN -k ELSE v END)
                     AS BIGINT),
                   CAST(0 AS BIGINT)
            FROM q WHERE b <= 3 OR b = 8 OR b = 9
            ORDER BY label"""))

  /** Versioned-table SHALLOW CLONE
    * ([[graft.operators.VersionedTable.cloneShallow]], Delta CLONE
    * semantics): metadata-only clone of a committed snapshot, then
    * divergent writes on both sides — an append and a predicate DELETE
    * on the clone (the delete rewrites CLONED dirs copy-on-write,
    * proving absolute manifest references feed the same CoW machinery),
    * an append on the source (isolation) — with the clone's
    * time-traveled v1 still equal to the cloned snapshot. Aggregates at
    * four phases against DuckDB set algebra. */
  val q_versioned_clone = QuerySpec(
    "q_versioned_clone", Seq("S9", "S4"),
    (s, d) => {
      import graft.operators.VersionedTable
      val o = Engine.table(s, d, "orders")
        .select(col("o_orderkey").cast("long").as("k"),
          col("o_custkey").cast("long").as("v"))
      val b = col("k") % 10
      val parent = java.nio.file.Files
        .createTempDirectory("graft_vtab_cl").toString
      val src = s"$parent/src"
      val dst = s"$parent/clone"
      VersionedTable.commit(s, src, o.filter(b <= 4))
      val vClone = VersionedTable.cloneShallow(s, src, dst)
      VersionedTable.commit(s, dst, o.filter(b === 7))
      // use RETURNED versions: a predicate delete that matches nothing
      // (the zero-row robustness corpus) no-ops without committing
      val vDel = VersionedTable.deleteWhere(s, dst, col("k") % 3 === 0)
      val vSrc = VersionedTable.commit(s, src, o.filter(b === 9))
      def agg(root: String, v: Long, label: String) =
        VersionedTable.read(s, root, Some(v))
          .agg(count(lit(1)).as("n"), sum(col("v")).as("sum_v"))
          .select(lit(label).as("label"), col("n"), col("sum_v"))
      Engine.collectAndClean(
        agg(src, vSrc, "p1_source_latest")
          .unionByName(agg(dst, vClone, "p2_clone_v1"))
          .unionByName(agg(dst, vDel, "p3_clone_latest"))
          .orderBy("label"), parent)
    },
    Some("""WITH q AS (SELECT CAST(o_orderkey AS BIGINT) AS k,
                              CAST(o_custkey AS BIGINT) AS v,
                              o_orderkey % 10 AS b
                       FROM orders)
            SELECT 'p1_source_latest' AS label, COUNT(*) AS n,
                   CAST(SUM(v) AS BIGINT) AS sum_v
            FROM q WHERE b <= 4 OR b = 9
            UNION ALL
            SELECT 'p2_clone_v1', COUNT(*), CAST(SUM(v) AS BIGINT)
            FROM q WHERE b <= 4
            UNION ALL
            SELECT 'p3_clone_latest', COUNT(*), CAST(SUM(v) AS BIGINT)
            FROM q WHERE (b <= 4 OR b = 7) AND k % 3 <> 0
            ORDER BY label"""))

  /** Versioned-table MERGE + CDC ([[graft.operators.VersionedTable]]
    * merge/changesBetween): two commits build the table, one merge
    * upserts/deletes/inserts in a single copy-on-write commit (v3), a
    * predicate DELETE (v4) and a predicate UPDATE (v5) follow, then
    * every snapshot AND the row-level change feed between v2 and v3
    * are aggregated. Built on
    * `orders` keyed by o_orderkey (unique in the testdata — lineitem's
    * compound key is NOT) with modulo-bucket membership, so the oracle
    * recomputes all five rows with exact BIGINT set algebra. Updates
    * surface in the feed as delete+insert pairs (no coalescing), kept
    * rows cancel. */
  /** Threshold-gated quality rules ([[graft.operators.QualityChecks]],
    * reference docs/实时数仓.md:118-124): completeness, uniqueness,
    * bounds, format, referential integrity over orders — one
    * single-pass agg plus one key join, metrics compared to thresholds.
    * The NOT-all-1.0 rules (bounds/pattern) prove the metric is a real
    * fraction, not a vacuous pass. */
  /** NOT IN vs NOT EXISTS under NULLs — the reference's own tuning
    * rule (docs/sql规范.md #12: rewrite NOT IN as NOT EXISTS / outer
    * join) exists precisely because NOT IN over a subquery CONTAINING
    * a NULL matches nothing under three-valued logic. One SQL text,
    * both engines: the with-NULLs count must be 0, the NULL-filtered
    * count equals the NOT EXISTS rewrite. Spark plans the nullable
    * form as a null-aware anti join (plan-pinned in PlanShapeSpec). */
  val q_not_in_null = QuerySpec(
    "q_not_in_null", Seq("P6", "J6", "P10"),
    (s, d) => { Engine.registerAll(s, d); s.sql(notInNullSql) },
    Some(notInNullSql))

  private lazy val notInNullSql = """
    WITH sub AS (SELECT CASE WHEN o_orderkey % 1000 = 0 THEN NULL
                             ELSE o_custkey END AS k
                 FROM orders)
    SELECT
      (SELECT COUNT(*) FROM customer
       WHERE c_custkey NOT IN (SELECT k FROM sub)) AS n_with_nulls,
      (SELECT COUNT(*) FROM customer
       WHERE c_custkey NOT IN (SELECT k FROM sub WHERE k IS NOT NULL))
        AS n_null_filtered,
      (SELECT COUNT(*) FROM customer c
       WHERE NOT EXISTS (SELECT 1 FROM sub WHERE sub.k = c.c_custkey))
        AS n_not_exists"""

  val q_quality_checks = QuerySpec(
    "q_quality_checks", Seq("A1", "A3", "J1", "P5"),
    (s, d) => {
      import graft.operators.QualityChecks._
      run(Engine.table(s, d, "orders"), Seq(
        Completeness("r1_custkey_complete", "o_custkey", 1.0),
        Uniqueness("r2_orderkey_unique", Seq("o_orderkey"), 1.0),
        Bounds("r3_price_bounds", "o_totalprice", 0.0, 400000.0, 0.99),
        Pattern("r4_priority_format", "o_orderpriority", "^[12]-", 0.5),
        ForeignKey("r5_custkey_fk", "o_custkey",
          Engine.table(s, d, "customer"), "c_custkey", 1.0)))
    },
    Some("""
      WITH n AS (SELECT COUNT(*) AS n FROM orders)
      SELECT rule, metric, threshold, metric >= threshold AS pass FROM (
        SELECT 'r1_custkey_complete' AS rule,
          CAST(COUNT(o_custkey) AS DOUBLE) / CAST(n AS DOUBLE) AS metric,
          CAST(1.0 AS DOUBLE) AS threshold FROM orders, n GROUP BY n
        UNION ALL
        SELECT 'r2_orderkey_unique',
          CAST(COUNT(DISTINCT o_orderkey) AS DOUBLE) / CAST(n AS DOUBLE),
          CAST(1.0 AS DOUBLE) FROM orders, n GROUP BY n
        UNION ALL
        SELECT 'r3_price_bounds',
          CAST(COUNT(CASE WHEN o_totalprice BETWEEN 0.0 AND 400000.0
                     THEN 1 END) AS DOUBLE)
            / CAST(COUNT(o_totalprice) AS DOUBLE),
          CAST(0.99 AS DOUBLE) FROM orders
        UNION ALL
        SELECT 'r4_priority_format',
          CAST(COUNT(CASE WHEN regexp_matches(o_orderpriority, '^[12]-')
                     THEN 1 END) AS DOUBLE)
            / CAST(COUNT(o_orderpriority) AS DOUBLE),
          CAST(0.5 AS DOUBLE) FROM orders
        UNION ALL
        SELECT 'r5_custkey_fk',
          CAST(COUNT(c.c_custkey) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE),
          CAST(1.0 AS DOUBLE)
        FROM orders o LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
          ON o.o_custkey = c.c_custkey)
      ORDER BY rule"""))

  /** SCD2 point-in-time correctness ([[graft.operators.Warehouse
    * .scd2Merge]], reference docs/数据模型.md:41-46): build version-2
    * rows for a third of the customer dimension effective 1998-01-01,
    * then join orders to the segment EFFECTIVE AT each order date
    * (equi-join on the key, date-range residual — the plan stays a
    * key-hash join). The oracle constructs the same version history
    * directly. Lexicographic ISO-date strings follow the reference's
    * dt convention. */
  val q_scd2_point_in_time = QuerySpec(
    "q_scd2_point_in_time", Seq("J1", "A6", "P4", "F9"),
    (s, d) => {
      import graft.operators.Warehouse
      val cust = Engine.table(s, d, "customer")
      val dim0 = cust.select(col("c_custkey").as("k"),
        col("c_mktsegment").as("seg"),
        lit("1990-01-01").as("valid_from"),
        lit("9999-12-31").as("valid_to"))
      val changes = cust.filter(col("c_custkey") % 3 === 0)
        .select(col("c_custkey").as("k"),
          concat(col("c_mktsegment"), lit("_V2")).as("seg"),
          lit("1998-01-01").as("eff"))
      val dim = Warehouse.scd2Merge(dim0, changes, "k", Seq("seg"), "eff")
      Engine.table(s, d, "orders")
        .select(col("o_custkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("od"),
          col("o_totalprice"))
        .join(dim, col("o_custkey") === col("k") &&
          col("od") >= col("valid_from") && col("od") < col("valid_to"))
        .groupBy("seg")
        .agg(count(lit(1)).as("n_orders"),
          graft.functions.dsum2(col("o_totalprice")).as("revenue"))
        .orderBy("seg")
    },
    Some("""
      WITH dim AS (
        SELECT c_custkey AS k, c_mktsegment AS seg, '1990-01-01' AS vf,
          CASE WHEN c_custkey % 3 = 0 THEN '1998-01-01'
               ELSE '9999-12-31' END AS vt
        FROM customer
        UNION ALL
        SELECT c_custkey, c_mktsegment || '_V2', '1998-01-01',
               '9999-12-31'
        FROM customer WHERE c_custkey % 3 = 0),
      o AS (SELECT o_custkey, strftime(o_orderdate, '%Y-%m-%d') AS od,
                   o_totalprice FROM orders)
      SELECT seg, COUNT(*) AS n_orders,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
          AS revenue
      FROM o JOIN dim ON o_custkey = k AND od >= vf AND od < vt
      GROUP BY seg ORDER BY seg"""))

  /** CATALOG-NAMED versioned table ([[graft.operators.VTabCatalog]] +
    * the name legs of [[graft.plans.VTabTimeTravelRule]]): the
    * reference's usage shape addresses NAMED tables in layered
    * databases (reference docs/HiveSQL.md:21,42-55), not filesystem
    * paths — so register a name, then drive the ENTIRE SQL surface by
    * name: INSERT (v1, v2), routed UPDATE (v3), time travel, bounded
    * CDC (the update surfacing as its delete+insert pair), and
    * history. DROP TABLE afterwards unregisters WITHOUT touching data
    * (spec-pinned in ExtensionsSpec; here the legs replay closed-form
    * in DuckDB). */
  val q_versioned_named = QuerySpec(
    "q_versioned_named", Seq("S9", "S3", "S4"),
    (s, d) => {
      val o = Engine.table(s, d, "orders")
        .select(col("o_orderkey").cast("long").as("k"),
          col("o_custkey").cast("long").as("v"))
      val b = col("k") % 10
      val root = java.nio.file.Files
        .createTempDirectory("graft_vtab_nm").toString
      s.sql(s"SELECT vtab_register('dws_q.named_inv', '$root')").collect()
      // anchor CDC spans on the versions ACTUALLY committed: a
      // predicate UPDATE that matches nothing (the zero-row
      // robustness corpus) deliberately mints no version
      def latest = graft.operators.VersionedTable
        .versions(s, root).last
      o.filter(b <= 3).createOrReplaceTempView("vtab_named_src1")
      o.filter(b === 8).createOrReplaceTempView("vtab_named_src2")
      s.sql("INSERT INTO dws_q.named_inv SELECT * FROM vtab_named_src1")
      val v1 = latest
      s.sql("INSERT INTO dws_q.named_inv SELECT * FROM vtab_named_src2")
      val v2 = latest
      s.sql("UPDATE dws_q.named_inv SET v = v + 1000 WHERE k % 10 = 0")
      val v3 = latest
      def agg(label: String, from: String) = s.sql(
        s"""SELECT '$label' AS leg, COUNT(*) AS n,
                   CAST(SUM(v) AS BIGINT) AS sv FROM $from""")
      val legs = agg("v1", s"dws_q.named_inv VERSION AS OF $v1")
        .unionByName(agg("latest", "dws_q.named_inv"))
        .unionByName(s.sql(
          s"""SELECT CONCAT('cdc12_', change) AS leg, COUNT(*) AS n,
                    CAST(SUM(v) AS BIGINT) AS sv
             FROM table_changes('dws_q.named_inv', $v1, $v2)
             GROUP BY change"""))
        .unionByName(s.sql(
          s"""SELECT CONCAT('cdc23_', change) AS leg, COUNT(*) AS n,
                    CAST(SUM(v) AS BIGINT) AS sv
             FROM table_changes('dws_q.named_inv', $v2, $v3)
             GROUP BY change"""))
        .unionByName(s.sql(
          """SELECT 'history' AS leg, COUNT(*) AS n,
                    CAST(SUM(version) AS BIGINT) AS sv
             FROM vtab_history.`dws_q.named_inv`"""))
        .orderBy("leg")
      // the legs hold ANALYZED snapshot plans, so unregistering first
      // is safe; collectAndClean then reclaims the table root
      s.sql("DROP TABLE dws_q.named_inv")
      Engine.collectAndClean(legs, root)
    },
    Some("""WITH q AS (SELECT CAST(o_orderkey AS BIGINT) AS k,
                              CAST(o_custkey AS BIGINT) AS v,
                              o_orderkey % 10 AS b
                       FROM orders)
            SELECT 'v1' AS leg, COUNT(*) AS n,
                   CAST(SUM(v) AS BIGINT) AS sv FROM q WHERE b <= 3
            UNION ALL
            SELECT 'latest', COUNT(*),
                   CAST(SUM(CASE WHEN b = 0 THEN v + 1000 ELSE v END)
                     AS BIGINT)
            FROM q WHERE b <= 3 OR b = 8
            UNION ALL
            SELECT 'cdc12_insert', COUNT(*), CAST(SUM(v) AS BIGINT)
            FROM q WHERE b = 8
            UNION ALL
            SELECT 'cdc23_delete', COUNT(*), CAST(SUM(v) AS BIGINT)
            FROM q WHERE b = 0
            UNION ALL
            SELECT 'cdc23_insert', COUNT(*),
                   CAST(SUM(v + 1000) AS BIGINT)
            FROM q WHERE b = 0
            UNION ALL
            SELECT 'history', 3, 6
            ORDER BY leg"""))

  /** Column-level MERGE UPDATE SET over COMPOSITE keys (the routed
    * SQL shape → [[graft.operators.VersionedTable.merge]] with
    * `updateSet`): the accumulating-snapshot fact pattern (reference
    * docs/数据模型.md:21-25 — facts updatable after load) as one SQL
    * MERGE: matched rows ACCUMULATE (`SET v = t.v + s.v` — RHS sees
    * the pre-update target row), a source flag deletes, unmatched
    * source rows insert, unmatched target rows stay untouched.
    * Composite key (k1, k2) = (o_orderkey mod 97, floor(o_orderkey /
    * 97)) — unique per order since o_orderkey is unique — so DuckDB
    * replays both snapshots closed-form. */
  val q_versioned_merge_set = QuerySpec(
    "q_versioned_merge_set", Seq("S9", "J1", "J5"),
    (s, d) => {
      import graft.operators.VersionedTable
      val o = Engine.table(s, d, "orders")
        .select((col("o_orderkey") % 97).cast("long").as("k1"),
          floor(col("o_orderkey") / 97).cast("long").as("k2"),
          col("o_custkey").cast("long").as("v"),
          (col("o_orderkey") % 10).as("b"))
      val root = java.nio.file.Files
        .createTempDirectory("graft_vtab_ms").toString
      VersionedTable.commit(s, root,
        o.filter(col("b") <= 4).drop("b"))                      // v1
      o.filter(col("b").isin(0, 1, 2, 7))
        .select(col("k1"), col("k2"),
          when(col("b") === 2, lit(-1L))
            .otherwise(col("v") + 1000).as("v"))
        .createOrReplaceTempView("vtab_mset_src")
      s.sql(s"""MERGE INTO vtab.`$root` t USING vtab_mset_src s
                ON t.k1 = s.k1 AND t.k2 = s.k2
                WHEN MATCHED AND s.v = -1 THEN DELETE
                WHEN MATCHED THEN UPDATE SET v = t.v + s.v
                WHEN NOT MATCHED THEN INSERT *""")              // v2
      def agg(label: String, v: Long) = s.sql(
        s"""SELECT '$label' AS leg, COUNT(*) AS n,
                   CAST(SUM(v) AS BIGINT) AS sv,
                   CAST(SUM(k1) AS BIGINT) AS sk1
            FROM vtab.`$root` VERSION AS OF $v""")
      Engine.collectAndClean(
        agg("v1", 1L).unionByName(agg("v2_merged", 2L))
          .orderBy("leg"), root)
    },
    Some("""WITH q AS (SELECT CAST(o_orderkey % 97 AS BIGINT) AS k1,
                              CAST(o_custkey AS BIGINT) AS v,
                              o_orderkey % 10 AS b
                       FROM orders)
            SELECT 'v1' AS leg, COUNT(*) AS n,
                   CAST(SUM(v) AS BIGINT) AS sv,
                   CAST(SUM(k1) AS BIGINT) AS sk1
            FROM q WHERE b <= 4
            UNION ALL
            SELECT 'v2_merged',
                   COUNT(*) FILTER (b IN (0, 1, 3, 4, 7)),
                   CAST(SUM(CASE WHEN b IN (0, 1) THEN 2 * v + 1000
                                 WHEN b IN (3, 4) THEN v
                                 WHEN b = 7 THEN v + 1000 END)
                     AS BIGINT),
                   CAST(SUM(k1) FILTER (b IN (0, 1, 3, 4, 7))
                     AS BIGINT)
            FROM q
            ORDER BY leg"""))

  /** CDC ACROSS DML COMMITS ([[graft.operators.VersionedTable
    * .changesBetween]] / the table_changes TVF): r17 pinned CDC over
    * append commits only — this pins the change feed across a version
    * history containing an UPDATE (v2), a DELETE (v3), and a MERGE
    * (v4). Contract under test: an update/merge-matched row surfaces
    * as a DELETE+INSERT PAIR (no update_pre/postimage kinds — the
    * dir-diff has no key knowledge to coalesce on), a deleted row as
    * a bare delete, an insert as a bare insert, and untouched rows of
    * rewritten dirs CANCEL (exceptAll bag semantics). Spans: each
    * adjacent pair plus the cumulative (1,4) window, all replayed
    * closed-form by DuckDB. */
  val q_versioned_cdc_dml = QuerySpec(
    "q_versioned_cdc_dml", Seq("S9", "S4"),
    (s, d) => {
      import graft.operators.VersionedTable
      val o = Engine.table(s, d, "orders")
        .select(col("o_orderkey").cast("long").as("k"),
          col("o_custkey").cast("long").as("v"))
      val b = col("k") % 10
      val root = java.nio.file.Files
        .createTempDirectory("graft_vtab_cdcdml").toString
      // anchor every span on the versions ACTUALLY committed: a
      // predicate UPDATE/DELETE that matches nothing (the zero-row
      // robustness corpus) deliberately mints no version
      def latest = VersionedTable.versions(s, root).last
      VersionedTable.commit(s, root, o.filter(b <= 4))
      val v1 = latest
      s.sql(s"UPDATE vtab.`$root` SET v = v + 1000 WHERE k % 10 = 2")
      val v2 = latest
      s.sql(s"DELETE FROM vtab.`$root` WHERE k % 10 = 3")
      val v3 = latest
      o.filter(b === 4).select(col("k"), (-col("k")).as("v"))
        .unionByName(o.filter(b === 5))
        .createOrReplaceTempView("vtab_cdcdml_src")
      s.sql(s"""MERGE INTO vtab.`$root` t USING vtab_cdcdml_src s
                ON t.k = s.k
                WHEN MATCHED THEN UPDATE SET *
                WHEN NOT MATCHED THEN INSERT *""")
      val v4 = latest
      def span(label: String, from: Long, to: Long) = s.sql(
        s"""SELECT CONCAT('$label', change) AS leg, COUNT(*) AS n,
                   CAST(SUM(v) AS BIGINT) AS sv
            FROM table_changes('$root', $from, $to)
            GROUP BY change""")
      Engine.collectAndClean(
        span("cdc12_", v1, v2).unionByName(span("cdc23_", v2, v3))
          .unionByName(span("cdc34_", v3, v4))
          .unionByName(span("cdc14_", v1, v4))
          .orderBy("leg"), root)
    },
    Some("""WITH q AS (SELECT CAST(o_orderkey AS BIGINT) AS k,
                              CAST(o_custkey AS BIGINT) AS v,
                              o_orderkey % 10 AS b
                       FROM orders)
            SELECT 'cdc12_delete' AS leg, COUNT(*) AS n,
                   CAST(SUM(v) AS BIGINT) AS sv FROM q WHERE b = 2
            UNION ALL
            SELECT 'cdc12_insert', COUNT(*),
                   CAST(SUM(v + 1000) AS BIGINT) FROM q WHERE b = 2
            UNION ALL
            SELECT 'cdc23_delete', COUNT(*),
                   CAST(SUM(v) AS BIGINT) FROM q WHERE b = 3
            UNION ALL
            SELECT 'cdc34_delete', COUNT(*),
                   CAST(SUM(v) AS BIGINT) FROM q WHERE b = 4
            UNION ALL
            SELECT 'cdc34_insert', COUNT(*),
                   CAST(SUM(CASE WHEN b = 4 THEN -k ELSE v END)
                     AS BIGINT)
            FROM q WHERE b IN (4, 5)
            UNION ALL
            SELECT 'cdc14_delete', COUNT(*),
                   CAST(SUM(v) AS BIGINT) FROM q WHERE b IN (2, 3, 4)
            UNION ALL
            SELECT 'cdc14_insert', COUNT(*),
                   CAST(SUM(CASE WHEN b = 2 THEN v + 1000
                                 WHEN b = 4 THEN -k
                                 ELSE v END) AS BIGINT)
            FROM q WHERE b IN (2, 4, 5)
            ORDER BY leg"""))

  val q_versioned_merge = QuerySpec(
    "q_versioned_merge", Seq("S9", "J5", "J6"),
    (s, d) => {
      import graft.operators.VersionedTable
      val o = Engine.table(s, d, "orders")
        .select(col("o_orderkey").as("k"), col("o_custkey").as("v"))
      val b = col("k") % 10
      val root = java.nio.file.Files
        .createTempDirectory("graft_vtab_m").toString
      // track the RETURNED versions rather than assuming 1..5: a
      // predicate op that touches no dir (e.g. on a zero-row split)
      // returns the CURRENT version instead of committing an empty
      // one, so hardcoded numbers would read versions that never
      // exist — the labels stay v1..v5 for the oracle either way
      val v1 = VersionedTable.commit(s, root, o.filter(b <= 4))
      val v2 = VersionedTable.commit(s, root, o.filter(b >= 7))
      val source = o.filter(b.isin(0, 1))
          .withColumn("v", col("v") + 100000)
        .unionByName(o.filter(b === 7).withColumn("v", lit(-1L)))
        .unionByName(o.filter(b === 5))
      val v3 = VersionedTable.merge(s, root, source, Seq("k"),
        deleteMatched = Some(col("v") === -1))
      val v4 = VersionedTable.deleteWhere(s, root, col("k") % 10 === 8)
      val v5 = VersionedTable.updateWhere(s, root, col("k") % 10 === 9,
        Map("v" -> (col("v") + 7)))
      def snap(label: String, v: Long) = VersionedTable.read(s, root, Some(v))
        .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"))
        .select(lit(label).as("label"), col("n"), col("sv"))
      val cdc = VersionedTable.changesBetween(s, root, v2, v3)
        .groupBy(concat(lit("cdc_"), col("change")).as("label"))
        .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"))
      Engine.collectAndClean(
        snap("v1", v1).unionByName(snap("v2", v2)).unionByName(snap("v3", v3))
          .unionByName(snap("v4", v4)).unionByName(snap("v5", v5))
          .unionByName(cdc).orderBy("label"), root)
    },
    Some("""WITH q AS (SELECT o_orderkey % 10 AS b,
                              CAST(o_custkey AS BIGINT) AS v
                       FROM orders)
            SELECT 'v1' AS label, COUNT(*) AS n,
                   CAST(SUM(v) AS BIGINT) AS sv FROM q WHERE b <= 4
            UNION ALL
            SELECT 'v2', COUNT(*), CAST(SUM(v) AS BIGINT) FROM q
            WHERE b <= 4 OR b >= 7
            UNION ALL
            SELECT 'v3',
                   COUNT(*) FILTER (b IN (2, 3, 4, 5, 8, 9))
                 + COUNT(*) FILTER (b IN (0, 1)),
                   CAST(SUM(v) FILTER (b IN (2, 3, 4, 5, 8, 9))
                 + SUM(v + 100000) FILTER (b IN (0, 1)) AS BIGINT)
            FROM q
            UNION ALL
            SELECT 'v4',
                   COUNT(*) FILTER (b IN (2, 3, 4, 5, 9))
                 + COUNT(*) FILTER (b IN (0, 1)),
                   CAST(SUM(v) FILTER (b IN (2, 3, 4, 5, 9))
                 + SUM(v + 100000) FILTER (b IN (0, 1)) AS BIGINT)
            FROM q
            UNION ALL
            SELECT 'v5',
                   COUNT(*) FILTER (b IN (2, 3, 4, 5, 9))
                 + COUNT(*) FILTER (b IN (0, 1)),
                   CAST(SUM(v) FILTER (b IN (2, 3, 4, 5))
                 + SUM(v + 7) FILTER (b = 9)
                 + SUM(v + 100000) FILTER (b IN (0, 1)) AS BIGINT)
            FROM q
            UNION ALL
            SELECT 'cdc_delete',
                   COUNT(*) FILTER (b IN (0, 1, 7)),
                   CAST(SUM(v) FILTER (b IN (0, 1, 7)) AS BIGINT)
            FROM q
            UNION ALL
            SELECT 'cdc_insert',
                   COUNT(*) FILTER (b IN (0, 1, 5)),
                   CAST(SUM(v + 100000) FILTER (b IN (0, 1))
                 + SUM(v) FILTER (b = 5) AS BIGINT)
            FROM q
            ORDER BY label"""))

  val all: Seq[QuerySpec] = Seq(
    q_versioned_time_travel, q_versioned_sql_asof, q_versioned_cdc_sql,
    q_versioned_sql_insert, q_versioned_cdc_bounded, q_versioned_sql_dml,
    q_versioned_named, q_versioned_merge, q_versioned_merge_set,
    q_versioned_cdc_dml,
    q_versioned_evolve, q_versioned_constraints, q_versioned_clone,
    q_approx_distinct, q_percentile, q_percentile_huge,
    q_approx_percentile, q_moments,
    q_group_by_all, q_setops_all, q_sessionize_batch,
    q_union_fusion_rule, q_agg_route, q_agg_route_having,
    q_agg_route_incremental, q_agg_route_distinct,
    q_audience_bitmap, q_bitmap_cd_rollup, q_global_dict_bitmap,
    q_cd_materialize, q_ordinal_sort, q_distribute_by,
    q_sort_by, q_cluster_by, q_lateral_view,
    q_udf_register, q_udaf_sumsq, q_correlated_scalar,
    q_csv_roundtrip, q_json_roundtrip, q_orc_roundtrip, q_xml_roundtrip,
    q_topk_per_group, q_asof_join,
    q_range_join, q_bigwhere_join, q_bloom_prefilter_join,
    q_window_analytic, q_collect_agg, q_collection_funcs,
    q_string_funcs2, q_approx_topk, q_merge_upsert, q_merge_sql,
    q_quality_checks, q_not_in_null, q_scd2_point_in_time)
}
