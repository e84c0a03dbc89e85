package graft

import org.apache.spark.sql.functions._

/** The SparkSessionExtensions surface: [[graft.plans.ApproxDistinctRewrite]]
  * swaps exact count(distinct) for HLL++ when the session opts in —
  * same query text, engine-chosen sketch (the Druid tradeoff,
  * reference docs/olap.md:46). */
class ExtensionsSpec extends SparkSuite {

  test("vtab SQL time travel: VERSION AS OF / TIMESTAMP AS OF / latest") {
    import graft.operators.VersionedTable
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft_vtab_sqlspec").toString
    VersionedTable.commit(spark, root, Seq((1L, "a")).toDF("id", "s"))
    Thread.sleep(15)
    VersionedTable.commit(spark, root, Seq((2L, "b")).toDF("id", "s"))
    def ids(sql: String): Set[Long] =
      spark.sql(sql).collect().map(_.getLong(0)).toSet
    assert(ids(s"SELECT id FROM vtab.`$root` VERSION AS OF 1") == Set(1L))
    assert(ids(s"SELECT id FROM vtab.`$root`") == Set(1L, 2L))
    // literal rendered in the SESSION zone (Engine.tsLiteral), not
    // Timestamp.toString's JVM-default zone — the AS OF cast parses
    // with spark.sql.session.timeZone
    val t1 = Engine.tsLiteral(spark, VersionedTable
      .describeHistory(spark, root)
      .filter(col("version") === 1L).head().getTimestamp(1))
    assert(ids(s"SELECT id FROM vtab.`$root` TIMESTAMP AS OF '$t1'")
      == Set(1L))
    // history and CDC identifiers resolve through the same rule
    assert(spark.sql(s"SELECT version FROM vtab_history.`$root`")
      .collect().map(_.getLong(0)).toSet == Set(1L, 2L))
    val cdc = spark.sql(
      s"SELECT id, change FROM vtab_changes.`$root` VERSION AS OF 1")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(cdc == Set((2L, "insert")), cdc.toString)
    // CDC since a TIMESTAMP anchor resolves via versionAsOf
    assert(spark.sql(s"SELECT id FROM vtab_changes.`$root` " +
        s"TIMESTAMP AS OF '$t1'")
      .collect().map(_.getLong(0)).toSet == Set(2L))
    // a changes read without an anchor is refused with a usable hint
    val e = intercept[Exception] {
      spark.sql(s"SELECT * FROM vtab_changes.`$root`").collect()
    }
    assert(e.getMessage.contains("needs an anchor"), e.getMessage)
    // DML shapes the manifest-writing APIs can't express are refused
    // with a usable message — and the table is bit-for-bit untouched
    Seq(
      // CONDITIONED update doesn't map onto the key-based upsert
      // (column-level SET itself routes now — own spec below)
      s"""MERGE INTO vtab.`$root` t USING (SELECT 1 AS id, 'x' AS s) s
          ON t.id = s.id WHEN MATCHED AND s.s = 'x' THEN UPDATE SET t.s = s.s
          WHEN NOT MATCHED THEN INSERT *""",
      // no NOT MATCHED INSERT *: merge always inserts unmatched rows
      s"""MERGE INTO vtab.`$root` t USING (SELECT 1 AS id, 'x' AS s) s
          ON t.id = s.id WHEN MATCHED THEN DELETE""",
      // non-equi ON
      s"""MERGE INTO vtab.`$root` t USING (SELECT 1 AS id, 'x' AS s) s
          ON t.id < s.id WHEN MATCHED THEN UPDATE SET *
          WHEN NOT MATCHED THEN INSERT *""").foreach { stmt =>
      val we = intercept[Exception](spark.sql(stmt).collect())
      assert(we.getMessage.contains("VersionedTable.merge"),
        s"$stmt -> ${we.getMessage.take(200)}")
    }
    // subqueries in DML conditions are refused (the routed command
    // re-resolves the condition against the bare snapshot)
    val sub = intercept[Exception] {
      spark.sql(s"""DELETE FROM vtab.`$root`
                    WHERE id IN (SELECT 1)""").collect()
    }
    assert(sub.getMessage.contains("subquery"), sub.getMessage)
    assert(ids(s"SELECT id FROM vtab.`$root`") == Set(1L, 2L))
  }

  test("vtab SQL DELETE/UPDATE/MERGE route through the manifest-" +
      "writing APIs: copy-on-write versions, alias handling, " +
      "time travel intact") {
    import graft.operators.VersionedTable
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft_vtab_dmlspec").toString
    VersionedTable.commit(spark, root,
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "s"))     // v1
    def snap(v: Long): Set[(Long, String)] = spark.sql(
      s"SELECT id, s FROM vtab.`$root` VERSION AS OF $v")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    // UPDATE with a table alias and an alias-qualified value expr
    spark.sql(s"""UPDATE vtab.`$root` t SET s = concat(t.s, '!')
                  WHERE t.id >= 2""")                            // v2
    assert(snap(2) == Set((1L, "a"), (2L, "b!"), (3L, "c!")))
    // EXPLAIN of a routed DELETE must not write
    spark.sql(s"EXPLAIN DELETE FROM vtab.`$root` WHERE id = 1").collect()
    assert(VersionedTable.versions(spark, root) == Seq(1L, 2L))
    spark.sql(s"DELETE FROM vtab.`$root` WHERE id = 1")          // v3
    assert(snap(3) == Set((2L, "b!"), (3L, "c!")))
    // canonical MERGE: delete-by-source-flag, whole-row update, insert
    Seq((2L, "B"), (3L, "DEL"), (4L, "d")).toDF("id", "s")
      .createOrReplaceTempView("vtab_dml_src")
    spark.sql(s"""MERGE INTO vtab.`$root` t USING vtab_dml_src s
                  ON t.id = s.id
                  WHEN MATCHED AND s.s = 'DEL' THEN DELETE
                  WHEN MATCHED THEN UPDATE SET *
                  WHEN NOT MATCHED THEN INSERT *""")             // v4
    assert(snap(4) == Set((2L, "B"), (4L, "d")))
    // SQL answers == Scala answers: replay the same DML via the API
    // on a twin table and diff
    val twin = java.nio.file.Files
      .createTempDirectory("graft_vtab_dmltwin").toString
    VersionedTable.commit(spark, twin,
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "s"))
    VersionedTable.updateWhere(spark, twin, col("id") >= 2,
      Map("s" -> concat(col("s"), lit("!"))))
    VersionedTable.deleteWhere(spark, twin, col("id") === 1)
    VersionedTable.merge(spark, twin,
      Seq((2L, "B"), (3L, "DEL"), (4L, "d")).toDF("id", "s"),
      Seq("id"), deleteMatched = Some(col("s") === "DEL"))
    assertSameRows(VersionedTable.read(spark, root),
      VersionedTable.read(spark, twin))
    // every pre-DML version stays readable (copy-on-write, not
    // in-place mutation)
    assert(snap(1) == Set((1L, "a"), (2L, "b"), (3L, "c")))
    // delete-condition referencing the TARGET side is refused (the
    // filter runs on aligned source rows in VersionedTable.merge)
    val tgtRef = intercept[Exception] {
      spark.sql(s"""MERGE INTO vtab.`$root` t USING vtab_dml_src s
                    ON t.id = s.id
                    WHEN MATCHED AND t.s = 'x' THEN DELETE
                    WHEN MATCHED THEN UPDATE SET *
                    WHEN NOT MATCHED THEN INSERT *""").collect()
    }
    assert(tgtRef.getMessage.contains("SOURCE columns"),
      tgtRef.getMessage.take(200))
    // misspelled UPDATE target is an error, not a silently added column
    val badCol = intercept[Exception] {
      spark.sql(s"UPDATE vtab.`$root` SET nope = 'x' WHERE id = 2")
        .collect()
    }
    assert(badCol.getMessage.contains("not a column"),
      badCol.getMessage.take(200))
  }

  test("vtab SQL MERGE with column-level UPDATE SET: pre-update RHS, " +
      "composite keys, unassigned columns kept, refusals retained") {
    import graft.operators.VersionedTable
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft_vtab_mset").toString
    VersionedTable.commit(spark, root,
      Seq((1L, 1L, 10L, "new"), (1L, 2L, 20L, "new"),
        (2L, 1L, 30L, "new")).toDF("k1", "k2", "qty", "st"))     // v1
    Seq((1L, 1L, 5L), (1L, 2L, 7L), (3L, 1L, 99L))
      .toDF("k1", "k2", "qty").createOrReplaceTempView("mset_src")
    // EXPLAIN must not write
    spark.sql(s"""EXPLAIN MERGE INTO vtab.`$root` t USING mset_src s
                  ON t.k1 = s.k1 AND t.k2 = s.k2
                  WHEN MATCHED THEN UPDATE SET qty = t.qty + s.qty
                  WHEN NOT MATCHED THEN INSERT *""").collect()
    assert(VersionedTable.versions(spark, root) == Seq(1L))
    spark.sql(s"""MERGE INTO vtab.`$root` t USING mset_src s
                  ON t.k1 = s.k1 AND t.k2 = s.k2
                  WHEN MATCHED THEN UPDATE SET
                    qty = t.qty + s.qty, st = 'upd'
                  WHEN NOT MATCHED THEN INSERT *""")              // v2
    val rows = spark.sql(
      s"SELECT k1, k2, qty, st FROM vtab.`$root` ORDER BY k1, k2")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        Option(r.getString(3)))).toList
    assert(rows == List(
      (1L, 1L, 15L, Some("upd")),   // 10 + 5, assigned st
      (1L, 2L, 27L, Some("upd")),   // 20 + 7
      (2L, 1L, 30L, Some("new")),   // unmatched target: untouched
      (3L, 1L, 99L, None)),         // INSERT *: source has no st -> null
      rows.toString)
    // Scala twin: same merge through the API's t/s aliases
    val twin = java.nio.file.Files
      .createTempDirectory("graft_vtab_msettwin").toString
    VersionedTable.commit(spark, twin,
      Seq((1L, 1L, 10L, "new"), (1L, 2L, 20L, "new"),
        (2L, 1L, 30L, "new")).toDF("k1", "k2", "qty", "st"))
    VersionedTable.merge(spark, twin,
      Seq((1L, 1L, 5L), (1L, 2L, 7L), (3L, 1L, 99L))
        .toDF("k1", "k2", "qty"),
      Seq("k1", "k2"),
      updateSet = Some(Seq(
        "qty" -> expr("t.qty + s.qty"), "st" -> lit("upd"))))
    assertSameRows(VersionedTable.read(spark, root),
      VersionedTable.read(spark, twin))
    // simultaneous assignment: SET a = t.b, b = t.a swaps
    val swap = java.nio.file.Files
      .createTempDirectory("graft_vtab_msetswap").toString
    VersionedTable.commit(spark, swap,
      Seq((1L, 10L, 100L)).toDF("id", "a", "b"))
    Seq(Tuple1(1L)).toDF("id").createOrReplaceTempView("mset_swap_src")
    spark.sql(s"""MERGE INTO vtab.`$swap` t USING mset_swap_src s
                  ON t.id = s.id
                  WHEN MATCHED THEN UPDATE SET a = t.b, b = t.a
                  WHEN NOT MATCHED THEN INSERT *""")
    assert(VersionedTable.read(spark, swap)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toList == List((1L, 100L, 10L)),
      "MERGE SET a = t.b, b = t.a must swap (pre-update RHS)")
    // refusals retained: CONDITIONED update, BY SOURCE, dup targets
    val conded = intercept[Exception] {
      spark.sql(s"""MERGE INTO vtab.`$root` t USING mset_src s
                    ON t.k1 = s.k1 AND t.k2 = s.k2
                    WHEN MATCHED AND s.qty > 5 THEN UPDATE SET qty = s.qty
                    WHEN NOT MATCHED THEN INSERT *""").collect()
    }
    assert(conded.getMessage.contains("Scala API"),
      conded.getMessage.take(200))
    val bySrc = intercept[Exception] {
      spark.sql(s"""MERGE INTO vtab.`$root` t USING mset_src s
                    ON t.k1 = s.k1 AND t.k2 = s.k2
                    WHEN MATCHED THEN UPDATE SET qty = s.qty
                    WHEN NOT MATCHED THEN INSERT *
                    WHEN NOT MATCHED BY SOURCE THEN DELETE""").collect()
    }
    assert(bySrc.getMessage.contains("Scala API"),
      bySrc.getMessage.take(200))
    val dup = intercept[Exception] {
      spark.sql(s"""MERGE INTO vtab.`$root` t USING mset_src s
                    ON t.k1 = s.k1 AND t.k2 = s.k2
                    WHEN MATCHED THEN UPDATE SET qty = s.qty, qty = 0
                    WHEN NOT MATCHED THEN INSERT *""").collect()
    }
    assert(dup.getMessage.toLowerCase.contains("duplicate"),
      dup.getMessage.take(200))
  }

  test("vtab SQL INSERT routes through VersionedTable.commit: append, " +
      "overwrite, positional cast, unsupported shapes refused") {
    import graft.operators.VersionedTable
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft_vtab_insspec").toString
    VersionedTable.commit(spark, root, Seq((1L, "a")).toDF("id", "s"))
    // EXPLAIN must NOT write — the routed statement is a
    // RunnableCommand, committed at execution time only
    spark.sql(s"EXPLAIN INSERT INTO vtab.`$root` VALUES (9, 'z')")
      .collect()
    assert(VersionedTable.versions(spark, root) == Seq(1L),
      "EXPLAIN of a routed INSERT must not commit")
    // VALUES append: positional — col names (col1, col2) and the int
    // literal are renamed/cast to the target's (id LONG, s STRING)
    spark.sql(s"INSERT INTO vtab.`$root` VALUES (9, 'z')")
    def ids(v: Long): Set[Long] = spark.sql(
      s"SELECT id FROM vtab.`$root` VERSION AS OF $v")
      .collect().map(_.getLong(0)).toSet
    assert(VersionedTable.versions(spark, root) == Seq(1L, 2L))
    assert(ids(2) == Set(1L, 9L))
    // SELECT append reading the SAME versioned table (read substitution
    // and write routing coexist in one statement)
    spark.sql(s"""INSERT INTO vtab.`$root`
                  SELECT id + 100, s FROM vtab.`$root` VERSION AS OF 1""")
    assert(ids(3) == Set(1L, 9L, 101L))
    // INSERT OVERWRITE replaces the snapshot as the next version;
    // history keeps every prior version readable
    spark.sql(s"INSERT OVERWRITE vtab.`$root` VALUES (7, 'w')")
    assert(ids(4) == Set(7L))
    assert(ids(2) == Set(1L, 9L))
    // BY NAME maps by column name regardless of query order
    spark.sql(s"""INSERT INTO vtab.`$root` BY NAME
                  SELECT 'n' AS s, 8 AS id""")
    assert(ids(5) == Set(7L, 8L))
    // extra BY NAME columns are an ERROR by default — never dropped
    val extra = intercept[Exception] {
      spark.sql(s"""INSERT INTO vtab.`$root` BY NAME
                    SELECT 9 AS id, 'e' AS s, 1.5 AS w""")
    }
    assert(extra.getMessage.contains("mergeSchema"),
      extra.getMessage.take(200))
    // ... and EVOLVE the schema additively with the session flag on
    // (prior rows null-fill; prior versions keep the narrow schema)
    withSQLConf("spark.graft.vtab.mergeSchema" -> "true") {
      spark.sql(s"""INSERT INTO vtab.`$root` BY NAME
                    SELECT 9 AS id, 'e' AS s, 1.5 AS w""")
    }
    val latest = spark.sql(
      s"SELECT id, CAST(w AS DOUBLE) AS w FROM vtab.`$root` ORDER BY id")
      .collect().map(r => (r.getLong(0), Option(r.get(1)))).toList
    assert(latest == List((7L, None), (8L, None), (9L, Some(1.5))),
      latest.toString)
    assert(spark.sql(s"SELECT * FROM vtab.`$root` VERSION AS OF 5")
      .columns.toSeq == Seq("id", "s"),
      "pre-evolution version must keep its narrow schema")
    // arity mismatch is a clear error, not a silent null-fill (the
    // table is 3 columns wide after the evolution above)
    val arity = intercept[Exception] {
      spark.sql(s"INSERT INTO vtab.`$root` VALUES (1, 'x', 99, 'z')")
    }
    assert(arity.getMessage.contains("column"), arity.getMessage)
    // unsupported INSERT shapes are refused with a usable message
    val part = intercept[Exception] {
      spark.sql(
        s"INSERT INTO vtab.`$root` PARTITION (s='a') VALUES (5)")
    }
    assert(part.getMessage.contains("not supported"), part.getMessage)
    // derived views stay read-only
    val hist = intercept[Exception] {
      spark.sql(s"INSERT INTO vtab_history.`$root` VALUES (1)")
    }
    assert(hist.getMessage.contains("read-only"), hist.getMessage)
  }

  test("vtab SQL INSERT BY NAME resolves case-insensitively; " +
      "table_changes refuses reversed anchors") {
    import graft.operators.VersionedTable
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft_vtab_ci").toString
    VersionedTable.commit(spark, root, Seq((1L, "a")).toDF("id", "s"))
    // Spark's default resolution is case-insensitive: a query column
    // named ID for target id must neither read as "missing column id"
    // nor double-count as an extra
    spark.sql(s"""INSERT INTO vtab.`$root` BY NAME
                  SELECT 'b' AS S, 2 AS ID""")
    assert(spark.sql(s"SELECT id, s FROM vtab.`$root` ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toList ==
      List((1L, "a"), (2L, "b")))
    // reversed CDC anchors are an error, never an inverted diff
    val rev = intercept[Exception] {
      spark.sql(s"SELECT * FROM table_changes('$root', 2, 1)").collect()
    }
    assert(rev.getMessage.contains("from must be <= to"),
      rev.getMessage.take(200))
    // MERGE source alignment is case-insensitive too: upper-cased
    // source columns are the SAME columns, not extras
    spark.sql(s"""MERGE INTO vtab.`$root` t
                  USING (SELECT 2 AS ID, 'b2' AS S
                         UNION ALL SELECT 3, 'c') s
                  ON t.id = s.ID
                  WHEN MATCHED THEN UPDATE SET *
                  WHEN NOT MATCHED THEN INSERT *""")
    assert(spark.sql(s"SELECT id, s FROM vtab.`$root` ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toList ==
      List((1L, "a"), (2L, "b2"), (3L, "c")))
  }

  test("catalog-named vtab: register -> SQL DML/time-travel/CDC by " +
      "name; DROP unregisters without deleting; unregistered names " +
      "fall through") {
    import graft.operators.{VTabCatalog, VersionedTable}
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft_vtab_named").toString
    // register via SQL text; the function returns the bound root
    assert(spark.sql(
      s"SELECT vtab_register('dws_spec.inventory', '$root')")
      .head().getString(0) == root)
    try {
      // INSERT by name creates v1; append creates v2
      spark.sql("INSERT INTO dws_spec.inventory SELECT 1 AS id, 'a' AS s")
      spark.sql("INSERT INTO dws_spec.inventory SELECT 2 AS id, 'b' AS s")
      assert(VersionedTable.versions(spark, root) == Seq(1L, 2L),
        "named INSERTs must land as manifest commits on the bound root")
      // time travel by name; latest by name
      assert(spark.sql(
        "SELECT id FROM dws_spec.inventory VERSION AS OF 1")
        .collect().map(_.getInt(0)).toSet == Set(1))
      assert(spark.sql("SELECT id FROM dws_spec.inventory ORDER BY id")
        .collect().map(_.getInt(0)).toList == List(1, 2))
      // routed UPDATE and MERGE by name
      spark.sql(
        "UPDATE dws_spec.inventory SET s = concat(s, '!') WHERE id = 1")
      Seq((2, "b2"), (3, "c")).toDF("id", "s")
        .createOrReplaceTempView("named_merge_src")
      spark.sql("""MERGE INTO dws_spec.inventory t USING named_merge_src s
                   ON t.id = s.id
                   WHEN MATCHED THEN UPDATE SET *
                   WHEN NOT MATCHED THEN INSERT *""")
      assert(spark.sql("SELECT id, s FROM dws_spec.inventory ORDER BY id")
        .collect().map(r => (r.getInt(0), r.getString(1))).toList ==
        List((1, "a!"), (2, "b2"), (3, "c")))
      // TIMESTAMP AS OF resolves by name through the same
      // effective-commit-time rules as the path form
      val t1n = Engine.tsLiteral(spark, VersionedTable
        .describeHistory(spark, root)
        .filter(col("version") === 1L).head().getTimestamp(1))
      assertSameRows(
        spark.sql(
          s"SELECT * FROM dws_spec.inventory TIMESTAMP AS OF '$t1n'"),
        spark.sql("SELECT * FROM dws_spec.inventory VERSION AS OF 1"))
      // bounded CDC by name == by path; derived views by name
      assertSameRows(
        spark.sql("SELECT * FROM table_changes('dws_spec.inventory', 1, 2)"),
        spark.sql(s"SELECT * FROM table_changes('$root', 1, 2)"))
      assert(spark.sql(
        "SELECT COUNT(*) FROM vtab_history.`dws_spec.inventory`")
        .head().getLong(0) == 4L)
      // EXPLAIN DROP shows the command without unregistering
      spark.sql("EXPLAIN DROP TABLE dws_spec.inventory").collect()
      assert(VTabCatalog.resolve("dws_spec.inventory").isDefined,
        "EXPLAIN of DROP must not unregister")
      // DROP TABLE unregisters the NAME; data and versions stay
      spark.sql("DROP TABLE dws_spec.inventory")
      assert(VTabCatalog.resolve("dws_spec.inventory").isEmpty)
      assert(VersionedTable.versions(spark, root).size == 4,
        "DROP must not touch table data")
      // the unregistered name now falls through to the catalog
      val e = intercept[Exception] {
        spark.sql("SELECT * FROM dws_spec.inventory").collect()
      }
      assert(e.getMessage.contains("TABLE_OR_VIEW_NOT_FOUND") ||
        e.getMessage.toLowerCase.contains("cannot be found"),
        e.getMessage.take(200))
      // reserved first parts and path-shaped roots are validated
      intercept[IllegalArgumentException] {
        VTabCatalog.register("vtab.sneaky", root)
      }
      intercept[IllegalArgumentException] {
        VTabCatalog.register("no_path_root", "not-a-path")
      }
      // DDL-first registration: CREATE TABLE ... USING vtab LOCATION
      // rebinds the SAME machinery (attach to an existing history)
      spark.sql(
        s"EXPLAIN CREATE TABLE dws_spec.inv2 USING vtab LOCATION '$root'")
        .collect()
      assert(VTabCatalog.resolve("dws_spec.inv2").isEmpty,
        "EXPLAIN of CREATE must not bind")
      spark.sql(
        s"CREATE TABLE dws_spec.inv2 USING vtab LOCATION '$root'")
      assert(spark.sql("SELECT COUNT(*) FROM dws_spec.inv2 VERSION AS OF 1")
        .head().getLong(0) == 1L,
        "attached name must read the existing history")
      spark.sql("DROP TABLE dws_spec.inv2")
      assert(VTabCatalog.resolve("dws_spec.inv2").isEmpty)
      // a column list is an unenforced promise — refused
      val colList = intercept[Exception] {
        spark.sql(s"CREATE TABLE dws_spec.inv3 (id BIGINT) USING vtab " +
          s"LOCATION '$root'").collect()
      }
      assert(colList.getMessage.contains("column lists"),
        colList.getMessage.take(200))
      // LOCATION is mandatory (a vtab IS its root)
      val noLoc = intercept[Exception] {
        spark.sql("CREATE TABLE dws_spec.inv4 USING vtab").collect()
      }
      assert(noLoc.getMessage.contains("LOCATION"),
        noLoc.getMessage.take(200))
      // any clause beyond LOCATION (CTAS, PARTITIONED BY, …) is a
      // LOUD refusal, never silently dropped
      val ctas = intercept[Exception] {
        spark.sql(s"CREATE TABLE dws_spec.inv5 USING vtab LOCATION " +
          s"'$root' AS SELECT 1 AS id").collect()
      }
      assert(ctas.getMessage.contains("exactly one clause"),
        ctas.getMessage.take(200))
      // CREATE TABLE semantics on an existing binding: error without
      // IF NOT EXISTS, no-op (NO repoint) with it
      spark.sql(s"CREATE TABLE dws_spec.inv6 USING vtab LOCATION '$root'")
      val dup2 = intercept[Exception] {
        spark.sql(
          s"CREATE TABLE dws_spec.inv6 USING vtab LOCATION '/elsewhere'")
          .collect()
      }
      assert(dup2.getMessage.contains("already bound"),
        dup2.getMessage.take(200))
      spark.sql("CREATE TABLE IF NOT EXISTS dws_spec.inv6 " +
        "USING vtab LOCATION '/elsewhere'")
      assert(VTabCatalog.resolve("dws_spec.inv6").contains(root),
        "IF NOT EXISTS must no-op, not repoint")
      spark.sql("DROP TABLE dws_spec.inv6")
      // DESC <table> <col> for a real table named `history` keeps
      // parsing through the delegate (no hijack of valid syntax)
      Seq((1L, "a")).toDF("event_id", "s").write.mode("overwrite")
        .saveAsTable("history")
      try {
        assert(spark.sql("DESC history event_id").count() >= 1)
      } finally { spark.sql("DROP TABLE IF EXISTS history"); () }
    } finally {
      VTabCatalog.unregister("dws_spec.inventory")
      ()
    }
  }

  test("SQL VACUUM / OPTIMIZE for vtab: retention guard, EXPLAIN " +
      "no-op, ZORDER rewrite, named form, plain SQL untouched") {
    import graft.operators.{VTabCatalog, VersionedTable}
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft_vtab_maint").toString
    VersionedTable.commit(spark, root,
      (1L to 50L).map(i => (i, i % 7)).toDF("id", "g"))          // v1
    VersionedTable.commit(spark, root,
      (51L to 80L).map(i => (i, i % 7)).toDF("id", "g"))         // v2
    VersionedTable.commit(spark, root,
      (81L to 100L).map(i => (i, i % 7)).toDF("id", "g"))        // v3
    def nDirs = new java.io.File(s"$root/data").listFiles().length
    assert(nDirs == 3)
    // EXPLAIN shows the command WITHOUT executing
    val plan = spark.sql(s"EXPLAIN OPTIMIZE vtab.`$root`")
      .head().getString(0)
    assert(plan.contains("VTabOptimizeCommand"), plan.take(300))
    assert(VersionedTable.versions(spark, root) == Seq(1L, 2L, 3L))
    spark.sql(s"EXPLAIN VACUUM vtab.`$root`").collect()
    assert(nDirs == 3, "EXPLAIN VACUUM must not delete")
    // OPTIMIZE compacts to ONE dir as a NEW version, content-identical
    val v4 = spark.sql(s"OPTIMIZE vtab.`$root`").head().getLong(0)
    assert(v4 == 4L)
    assert(VersionedTable.read(spark, root).count() == 100)
    // VACUUM RETAIN keeps the last n versions' dirs; earlier manifests
    // drop, their exclusively-referenced dirs are reclaimed
    val deleted = spark
      .sql(s"VACUUM vtab.`$root` RETAIN 1 VERSIONS").head().getLong(0)
    assert(deleted == 3L, s"expected the 3 pre-compact dirs, got $deleted")
    assert(VersionedTable.versions(spark, root) == Seq(4L))
    assert(VersionedTable.read(spark, root).count() == 100)
    // retention guard: RETAIN 0 refused by vacuum's own require
    val zero = intercept[Exception] {
      spark.sql(s"VACUUM vtab.`$root` RETAIN 0 VERSIONS").collect()
    }
    assert(zero.getMessage.contains("at least"), zero.getMessage.take(200))
    // ZORDER BY rewrites into the requested file count, new version
    val v5 = spark
      .sql(s"OPTIMIZE vtab.`$root` ZORDER BY (g, id) INTO 4 FILES")
      .head().getLong(0)
    assert(v5 == 5L)
    assert(VersionedTable.read(spark, root).count() == 100)
    assert(VersionedTable.read(spark, root)
      .select("id").distinct().count() == 100)
    // named form routes identically
    VTabCatalog.register("maint_spec.t", root)
    try {
      val v6 = spark.sql("OPTIMIZE maint_spec.t INTO 1 FILES")
        .head().getLong(0)
      assert(v6 == 6L)
      assert(spark.sql("VACUUM maint_spec.t RETAIN 2 VERSIONS")
        .head().getLong(0) >= 1L)
    } finally VTabCatalog.unregister("maint_spec.t")
    // unclaimed targets: clear error naming vtab_register, and plain
    // SQL still parses through the delegate untouched
    val unk = intercept[Exception] {
      spark.sql("VACUUM not_registered_name").collect()
    }
    assert(unk.getMessage.contains("vtab_register"),
      unk.getMessage.take(200))
    assert(spark.sql("SELECT 1 + 1").head().getInt(0) == 2)
    // DESCRIBE HISTORY: the Delta-style verb over path and name,
    // newest first, same frame as the vtab_history view
    val hist = spark.sql(s"DESCRIBE HISTORY vtab.`$root`")
      .collect().map(r => (r.getLong(0), r.getString(2)))
    assert(hist.head._1 == 6L && hist.length == 2,
      s"post-vacuum history should be v5..v6 newest-first: ${hist.toList}")
    assert(hist.map(_._2).toSet == Set("compact", "optimize"),
      hist.toList.toString)
    // vtab_tables(): BI discovery of the name bindings
    VTabCatalog.register("maint_spec.t2", root)
    try {
      val listed = spark.sql(
        "SELECT name, root FROM vtab_tables() WHERE name = 'maint_spec.t2'")
        .collect().map(r => (r.getString(0), r.getString(1))).toList
      assert(listed == List(("maint_spec.t2", root)), listed.toString)
      assert(spark.sql("DESCRIBE HISTORY maint_spec.t2").count() == 2)
    } finally VTabCatalog.unregister("maint_spec.t2")
  }

  test("SQL RESTORE and ALTER TABLE ADD/DROP CONSTRAINT for vtab: " +
      "append-only rollback, enforced checks, non-vtab ALTER untouched") {
    import graft.operators.{VTabCatalog, VersionedTable}
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft_vtab_restore").toString
    VersionedTable.commit(spark, root,
      Seq((1L, 10L), (2L, 20L)).toDF("id", "v"))               // v1
    VersionedTable.commit(spark, root,
      Seq((3L, -5L)).toDF("id", "v"))                          // v2
    // RESTORE is a NEW version with v1's content; v2 stays readable
    val v3 = spark.sql(s"RESTORE vtab.`$root` TO VERSION AS OF 1")
      .head().getLong(0)
    assert(v3 == 3L)
    assert(spark.sql(s"SELECT id FROM vtab.`$root`")
      .collect().map(_.getLong(0)).toSet == Set(1L, 2L))
    assert(spark.sql(s"SELECT COUNT(*) FROM vtab.`$root` VERSION AS OF 2")
      .head().getLong(0) == 3L, "history must stay append-only")
    // ADD CONSTRAINT validates existing data, then gates writes
    val v4 = spark
      .sql(s"ALTER TABLE vtab.`$root` ADD CONSTRAINT v_pos CHECK (v >= 0)")
      .head().getLong(0)
    assert(v4 == 4L)
    val rej = intercept[Exception] {
      spark.sql(s"INSERT INTO vtab.`$root` VALUES (9, -1)")
    }
    assert(rej.getMessage.contains("v_pos"), rej.getMessage.take(200))
    // RESTORE to a pre-constraint version reinstates that version's
    // state WHOLESALE — content AND (empty) constraint set (rollback's
    // documented contract: the current set may reject restored rows)
    val v5 = spark.sql(s"RESTORE vtab.`$root` TO VERSION AS OF 2")
      .head().getLong(0)
    assert(v5 == 5L)
    assert(VersionedTable.constraintsOf(spark, root).isEmpty,
      "restore must reinstate the restored version's constraint set")
    spark.sql(s"INSERT INTO vtab.`$root` VALUES (9, -1)")       // v6
    assert(spark.sql(s"SELECT COUNT(*) FROM vtab.`$root` WHERE v < 0")
      .head().getLong(0) == 2L)
    // re-adding the constraint over now-violating data is refused
    val overViol = intercept[Exception] {
      spark.sql(
        s"ALTER TABLE vtab.`$root` ADD CONSTRAINT v_pos CHECK (v >= 0)")
        .collect()
    }
    assert(overViol.getMessage.contains("violate"),
      overViol.getMessage.take(200))
    // a constraint characteristic is refused by name, and EXPLAIN of
    // the mapped statement never writes
    Seq("NOT ENFORCED", "RELY").foreach { ch =>
      val e = intercept[Exception] {
        spark.sql(s"ALTER TABLE vtab.`$root` ADD CONSTRAINT c2 " +
          s"CHECK (id > 0) $ch").collect()
      }
      assert(e.getMessage.contains(ch), e.getMessage.take(200))
    }
    val before = VersionedTable.versions(spark, root)
    spark.sql(s"EXPLAIN ALTER TABLE vtab.`$root` ADD CONSTRAINT c2 " +
      "CHECK (id > 0)").collect()
    assert(VersionedTable.versions(spark, root) == before)
    // DROP CONSTRAINT by name mints a version and stops enforcement
    spark.sql(s"ALTER TABLE vtab.`$root` ADD CONSTRAINT id_pos " +
      "CHECK (id > 0)")
    assert(VersionedTable.constraintsOf(spark, root).map(_._1) ==
      Seq("id_pos"))
    spark.sql(s"ALTER TABLE vtab.`$root` DROP CONSTRAINT id_pos")
    assert(VersionedTable.constraintsOf(spark, root).isEmpty)
    // named form
    VTabCatalog.register("restore_spec.t", root)
    try {
      val vBack = spark
        .sql("RESTORE TABLE restore_spec.t TO VERSION AS OF 1")
        .head().getLong(0)
      assert(VersionedTable.versions(spark, root).last == vBack)
    } finally VTabCatalog.unregister("restore_spec.t")
    // a non-vtab ALTER TABLE delegates to Spark untouched (its own
    // grammar/behavior, not our error)
    Seq((1L, "a")).toDF("id", "s").write.mode("overwrite")
      .saveAsTable("alter_delegate_t")
    try {
      spark.sql(
        "ALTER TABLE alter_delegate_t SET TBLPROPERTIES ('k' = 'v')")
      assert(spark.sql("SELECT COUNT(*) FROM alter_delegate_t")
        .head().getLong(0) == 1L)
    } finally { spark.sql("DROP TABLE IF EXISTS alter_delegate_t"); () }
  }

  test("vtab namespace guard: only path-shaped identifiers are " +
      "claimed; a catalog database named vtab keeps working") {
    import spark.implicits._
    spark.sql("CREATE DATABASE IF NOT EXISTS vtab")
    try {
      Seq((42L, "ok")).toDF("id", "s").write.mode("overwrite")
        .saveAsTable("vtab.real_table")
      // resolves through the CATALOG, not the versioned-table rule
      assert(spark.sql("SELECT id FROM vtab.real_table").head()
        .getLong(0) == 42L)
      // a relative (non-path) vtab name that does NOT exist falls
      // through to the catalog's own not-found error, not a manifest
      // read of a directory literally named "nope"
      val e = intercept[Exception] {
        spark.sql("SELECT * FROM vtab.nope").collect()
      }
      assert(e.getMessage.contains("TABLE_OR_VIEW_NOT_FOUND") ||
        e.getMessage.toLowerCase.contains("cannot be found"),
        e.getMessage.take(200))
    } finally {
      spark.sql("DROP DATABASE IF EXISTS vtab CASCADE")
      ()
    }
  }

  test("table_changes TVF: bounded CDC == Scala changesBetween, " +
      "2-arg form defaults to latest") {
    import graft.operators.VersionedTable
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft_vtab_tvfspec").toString
    VersionedTable.commit(spark, root, Seq((1L, "a")).toDF("id", "s"))
    VersionedTable.commit(spark, root, Seq((2L, "b")).toDF("id", "s"))
    VersionedTable.commit(spark, root,
      Seq((3L, "c")).toDF("id", "s"), overwrite = true)
    // bounded (1, 2): exclusive from, inclusive to — exactly the
    // Scala API's contract, pinned by direct comparison
    assertSameRows(
      spark.sql(s"SELECT * FROM table_changes('$root', 1, 2)"),
      VersionedTable.changesBetween(spark, root, 1L, 2L))
    val b = spark.sql(
      s"SELECT id, change FROM table_changes('$root', 1, 2)")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(b == Set((2L, "insert")), b.toString)
    // 2-arg: to defaults to the latest commit (the overwrite at v3
    // deletes v1+v2's rows and inserts v3's)
    assertSameRows(
      spark.sql(s"SELECT * FROM table_changes('$root', 1)"),
      VersionedTable.changesBetween(spark, root, 1L, 3L))
    // ... and equals the AS-OF identifier form
    assertSameRows(
      spark.sql(s"SELECT * FROM table_changes('$root', 1)"),
      spark.sql(s"SELECT * FROM vtab_changes.`$root` VERSION AS OF 1"))
    // timestamp anchors resolve through the SAME versionAsOf rules as
    // TIMESTAMP AS OF: anchor at v1's commit instant == anchor at v1
    val t1 = Engine.tsLiteral(spark, VersionedTable
      .describeHistory(spark, root)
      .filter(col("version") === 1L).head().getTimestamp(1))
    assertSameRows(
      spark.sql(s"SELECT * FROM table_changes('$root', '$t1', 2)"),
      VersionedTable.changesBetween(spark, root, 1L, 2L))
    // and a numeric string is a version, not a timestamp
    assertSameRows(
      spark.sql(s"SELECT * FROM table_changes('$root', '1', '2')"),
      VersionedTable.changesBetween(spark, root, 1L, 2L))
  }

  test("approx-distinct rule rewrites count(distinct) to HLL++ when enabled") {
    val events = Engine.table(spark, sf, "events")
    def q = events.groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("uu"))

    val exact = q.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exactPlan = q.queryExecution.optimizedPlan.toString
    assert(!exactPlan.contains("approx_count_distinct"), exactPlan)

    withSQLConf("spark.graft.approxDistinct.enabled" -> "true") {
      val plan = q.queryExecution.optimizedPlan.toString
      assert(plan.contains("approx_count_distinct"),
        s"rule did not rewrite:\n$plan")
      // no Expand: the sketch needs no per-distinct row multiplication
      assert(!q.queryExecution.executedPlan.toString.contains("Expand"))
      val approx = q.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      exact.foreach { case (k, v) =>
        val a = approx(k)
        assert(math.abs(a - v) <= math.max(1, v * 0.1),
          s"$k: approx $a vs exact $v")
      }
    }
  }

  test("approx_top_k: high-cardinality sketch still surfaces the true " +
      "heavy hitters (approximate regime)") {
    Engine.registerAll(spark, sf)
    // user_id is high-cardinality; track far fewer items than distinct
    // values so the sketch genuinely approximates, then check every
    // true top-5 user survives in the sketch's top-20 overfetch
    val exact = spark.sql(
      """SELECT user_id, COUNT(*) AS n FROM events
         GROUP BY user_id ORDER BY n DESC, user_id LIMIT 5""")
      .collect().map(_.getLong(0)).toSet
    val sketched = spark.sql(
      """SELECT t.x.item AS user_id
         FROM (SELECT explode(approx_top_k(user_id, 20, 64)) AS x
               FROM events) t""")
      .collect().map(_.getLong(0)).toSet
    assert(exact.subsetOf(sketched),
      s"missing heavy hitters: ${exact.diff(sketched)}")
  }

  test("TopKPerGroup custom operator equals the window row_number form") {
    import org.apache.spark.sql.expressions.Window
    val e = Engine.table(spark, sf, "events")
      .select("event_id", "user_id", "ts", "event_type")
    val custom = graft.plans.TopKPerGroup.topKPerGroup(e,
      Seq(col("user_id")), Seq(col("ts").desc, col("event_id").desc), k = 3)
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts").desc, col("event_id").desc)
    val viaWindow = e.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3).drop("rn")
    assertSameRows(custom, viaWindow)
  }

  test("TopKPerGroup plans with one exchange and NO sort") {
    val e = Engine.table(spark, sf, "events")
      .select("event_id", "user_id", "ts")
    val custom = graft.plans.TopKPerGroup.topKPerGroup(e,
      Seq(col("user_id")), Seq(col("ts").desc), k = 2)
    custom.collect()
    val plan = custom.queryExecution.executedPlan.toString
    // partial heap BELOW the exchange (map-side shuffle reduction),
    // final heap above it, and no Sort anywhere
    assert(plan.contains("TopKPerGroupPartial"), plan)
    assert(plan.contains("TopKPerGroupFinal"), plan)
    assert(plan.indexOf("TopKPerGroupFinal") <
      plan.indexOf("hashpartitioning(user_id"), plan)
    assert(plan.indexOf("hashpartitioning(user_id") <
      plan.indexOf("TopKPerGroupPartial"), plan)
    assert(!plan.contains("Sort "), s"heap operator must not sort:\n$plan")
  }

  test("TopKPerGroup: groups smaller than k emit all rows; k=1 picks the best") {
    import spark.implicits._
    val df = Seq((1L, 10), (1L, 30), (1L, 20), (2L, 5)).toDF("g", "v")
    val top2 = graft.plans.TopKPerGroup.topKPerGroup(df,
      Seq(col("g")), Seq(col("v").desc), k = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(top2 == Set((1L, 30), (1L, 20), (2L, 5)))
    val top1 = graft.plans.TopKPerGroup.topKPerGroup(df,
      Seq(col("g")), Seq(col("v").asc), k = 1)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(top1 == Set((1L, 10), (2L, 5)))
  }

  test("quotaPerGroup: per-group data-driven cap, zero/null quotas drop") {
    import spark.implicits._
    val df = Seq(
      (1L, 10, 2), (1L, 30, 2), (1L, 20, 2),   // group 1: quota 2
      (2L, 5, 1), (2L, 9, 1),                  // group 2: quota 1
      (3L, 7, 0))                              // group 3: quota 0 → dropped
      .toDF("g", "v", "q")
    val got = graft.plans.TopKPerGroup.quotaPerGroup(df,
        Seq(col("g")), Seq(col("v").desc), col("q"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(got == Set((1L, 30), (1L, 20), (2L, 9)))
    // matches the window form on a skewed-quota frame
    import org.apache.spark.sql.expressions.Window
    val e = Engine.table(spark, sf, "events")
      .select("event_id", "user_id", "ts")
      .withColumn("quota", (pmod(col("user_id"), lit(4)) + 1).cast("int"))
    val custom = graft.plans.TopKPerGroup.quotaPerGroup(e,
      Seq(col("user_id")), Seq(col("ts").desc, col("event_id").desc),
      col("quota"))
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts").desc, col("event_id").desc)
    val viaWindow = e.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= col("quota")).drop("rn")
    assertSameRows(custom, viaWindow)
  }

  test("temperatureMixture flattens strata toward sqrt shares") {
    val docs = Engine.table(spark, sf, "documents")
    val before = docs.groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val nMin = before.values.min
    val after = graft.operators.Sampling
      .temperatureMixture(docs, "lang")
      .groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    before.foreach { case (lang, n) =>
      val want = math.floor(math.sqrt(n.toDouble * nMin.toDouble)).toLong
      assert(after(lang) == want,
        s"$lang: kept ${after(lang)}, want floor(sqrt($n*$nMin)) = $want")
    }
    // smallest stratum survives whole
    val minLang = before.minBy(_._2)._1
    assert(after(minLang) == before(minLang))
  }

  test("union-fusion rule: UNION ALL of two same-table joins fuses to ONE join") {
    import org.apache.spark.sql.catalyst.plans.logical.{Join => LJoin}
    Engine.table(spark, sf, "events")
      .select(col("event_id"), col("user_id"),
        pmod(col("event_id"), lit(50)).as("alt_id"))
      .createOrReplaceTempView("fuse_log")
    Engine.table(spark, sf, "customer")
      .select(col("c_custkey"), col("c_name"))
      .createOrReplaceTempView("fuse_dim")
    // the reference's case: one dim key matched by EITHER of two fact
    // columns, written naively as two joins + UNION ALL
    def q = spark.sql("""
      SELECT l.event_id, l.user_id, d.c_name
      FROM fuse_log l JOIN fuse_dim d ON l.user_id = d.c_custkey
      UNION ALL
      SELECT l.event_id, l.user_id, d.c_name
      FROM fuse_log l JOIN fuse_dim d ON l.alt_id = d.c_custkey""")
    def joins = q.queryExecution.optimizedPlan.collect {
      case j: LJoin => j
    }.length
    val expected = q.collect().map(_.toString).sorted
    assert(joins == 2, s"rule off: the naive two-join shape stands ($joins)")
    withSQLConf("spark.graft.unionFusedJoin.enabled" -> "true") {
      assert(joins == 1, s"rule on: expected ONE fused join, got $joins:\n" +
        q.queryExecution.optimizedPlan)
      val got = q.collect().map(_.toString).sorted
      assert(got.length == expected.length &&
        got.sameElements(expected), "fused result must be identical")
    }
  }

  test("q_union_fusion_rule scopes the rewrite to itself: session state restored") {
    import org.apache.spark.sql.catalyst.plans.logical.{Join => LJoin}
    val priorRules = spark.experimental.extraOptimizations
    val priorFlag = spark.conf.getOption("spark.graft.unionFusedJoin.enabled")
    val df = ExtQueries.q_union_fusion_rule.run(spark, sf)
    // the returned frame was optimized while the rule was active
    val joins = df.queryExecution.optimizedPlan.collect {
      case j: LJoin => j
    }.length
    assert(joins == 1, s"expected ONE fused join, got $joins")
    assert(df.count() > 0)
    // ...but the shared session is back to its prior state
    assert(spark.experimental.extraOptimizations.sameElements(priorRules),
      "extraOptimizations must be restored")
    assert(spark.conf.getOption("spark.graft.unionFusedJoin.enabled") ==
      priorFlag, "conf flag must be restored")
  }

  test("union-fusion rule: randomized equivalence incl. null keys and dup rows") {
    import spark.implicits._
    val rng = new scala.util.Random(1234)
    (1 to 3).foreach { trial =>
      val facts = (0 until 300).map { i =>
        (i.toLong,
          if (rng.nextInt(10) == 0) null
          else java.lang.Long.valueOf(rng.nextInt(40).toLong),
          java.lang.Long.valueOf(rng.nextInt(60).toLong))
      }
      // duplicate some fact rows: multiset semantics must survive
      val withDups = facts ++ facts.take(30)
      withDups.toDF("fid", "k1", "k2")
        .createOrReplaceTempView(s"fz_log_$trial")
      (0 until 50).map(i => (i.toLong, s"d$i"))
        .toDF("dk", "dv").createOrReplaceTempView(s"fz_dim_$trial")
      def q = spark.sql(s"""
        SELECT l.fid, l.k1, l.k2, d.dv
        FROM fz_log_$trial l JOIN fz_dim_$trial d ON l.k1 = d.dk
        UNION ALL
        SELECT l.fid, l.k1, l.k2, d.dv
        FROM fz_log_$trial l JOIN fz_dim_$trial d ON l.k2 = d.dk""")
      val naive = q.collect().map(_.toString).sorted.toSeq
      withSQLConf("spark.graft.unionFusedJoin.enabled" -> "true") {
        val joins = q.queryExecution.optimizedPlan.collect {
          case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
        }.length
        assert(joins == 1, s"trial $trial should fuse")
        val fused = q.collect().map(_.toString).sorted.toSeq
        assert(fused == naive,
          s"trial $trial multiset mismatch: ${fused.length} vs ${naive.length}")
      }
    }
  }

  test("union-fusion rule leaves different-dim-key unions untouched") {
    import org.apache.spark.sql.catalyst.plans.logical.{Join => LJoin}
    Engine.table(spark, sf, "events")
      .select(col("event_id"), col("user_id"))
      .createOrReplaceTempView("fuse_log2")
    Engine.table(spark, sf, "customer")
      .select(col("c_custkey"), col("c_nationkey"), col("c_name"))
      .createOrReplaceTempView("fuse_dim2")
    // branches probe DIFFERENT dim keys -> semantics can't fuse on one
    // unified key; rule must not fire
    def q = spark.sql("""
      SELECT l.event_id, d.c_name
      FROM fuse_log2 l JOIN fuse_dim2 d ON l.user_id = d.c_custkey
      UNION ALL
      SELECT l.event_id, d.c_name
      FROM fuse_log2 l JOIN fuse_dim2 d ON l.user_id = d.c_nationkey""")
    withSQLConf("spark.graft.unionFusedJoin.enabled" -> "true") {
      val joins = q.queryExecution.optimizedPlan.collect {
        case j: LJoin => j
      }.length
      assert(joins == 2, "different dim keys must not fuse")
    }
  }

  test("rule leaves plain count() and disabled sessions untouched") {
    val events = Engine.table(spark, sf, "events")
    val q = events.groupBy("event_type").agg(count(lit(1)).as("n"))
    withSQLConf("spark.graft.approxDistinct.enabled" -> "true") {
      assert(!q.queryExecution.optimizedPlan.toString
        .contains("approx_count_distinct"))
    }
  }

  // ---------------------------------------------- aggregate routing

  /** Build + register the routing fixture once (the conformance query
    * owns the build; here we just trigger it at this suite's sf). */
  private def ensureRoute(): Unit =
    ExtQueries.q_agg_route.run(spark, sf)

  private def scannedPaths(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("agg routing answers a subsumed fact aggregate from the summary " +
      "and matches the naive result exactly") {
    ensureRoute()
    val fact = Engine.table(spark, sf, "lineitem")
    def q = fact
      .filter(col("l_shipdate") >= lit("1994-06-01").cast("timestamp_ntz"))
      .groupBy("l_returnflag")
      .agg(graft.functions.dsum2(col("l_quantity")).as("qty"),
        count(lit(1)).as("n"),
        min(col("l_quantity")).as("mn"),
        max(col("l_quantity")).as("mx"))
      .orderBy("l_returnflag")
    val naive = q.collect()
    assert(scannedPaths(q).contains("lineitem"), "naive must scan the fact")
    withSQLConf("spark.graft.aggRouting.enabled" -> "true") {
      val (routed, picked) = graft.plans.AggRouting.recording {
        val r = q
        r.queryExecution.optimizedPlan
        r
      }
      val plan = scannedPaths(routed)
      // with the cube lattice registered in the same JVM the rewrite
      // may (correctly) prefer a smaller cuboid over agg_route_ —
      // the contract is: a registered summary, never the fact
      assert(picked.nonEmpty && picked.forall(d =>
          d.summary.contains("agg_route_") || d.summary.contains("cube_")) &&
        !plan.contains("lineitem"),
        s"routed plan must answer from a registered summary only " +
          s"($picked):\n$plan")
      assert(routed.collect().toSeq == naive.toSeq,
        "routed result must equal the naive result exactly")
    }
  }

  test("COUNT(DISTINCT) routes onto a bitmap summary measure, scans " +
      "the summary only, and stays exact") {
    ExtQueries.q_agg_route_distinct.run(spark, sf).collect() // register
    val fact = Engine.table(spark, sf, "events")
    def q = fact.groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("u"), count(lit(1)).as("n"))
      .orderBy("event_type")
    val naive = q.collect()
    assert(scannedPaths(q).contains("events"), "naive must scan the fact")
    withSQLConf("spark.graft.aggRouting.enabled" -> "true") {
      val (plan, picked) = graft.plans.AggRouting.recording(scannedPaths(q))
      assert(picked.nonEmpty &&
        picked.forall(_.summary.contains("audience_route_")) &&
        !plan.contains("events"),
        s"routed plan must answer from the bitmap summary only " +
          s"($picked):\n$plan")
      assert(q.collect().toSeq == naive.toSeq,
        "routed count-distinct differs from naive")
    }
  }

  test("maintainSummary with a bitmap measure: maintained id sets are " +
      "byte-identical to a full rebuild") {
    import spark.implicits._
    import graft.plans.AggRouting
    import graft.functions.Bitmap64.bitmapBuild
    val dims = Seq("g")
    val measures = Map[org.apache.spark.sql.Column, String](
      bitmapBuild(col("id")) -> "bm",
      count(lit(1)) -> "c")
    val aggCols = measures.toSeq.map { case (cc, n) => cc.as(n) }
    def summarize(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("g").agg(aggCols.head, aggCols.tail: _*)
    // overlapping ids across old/delta prove set-union (not concat)
    val oldFact = Seq(("a", 1L), ("a", 2L), ("b", 5L)).toDF("g", "id")
    val delta = Seq(("a", 2L), ("a", 9L), ("z", 5L)).toDF("g", "id")
    val maintained = AggRouting.maintainSummary(
      summarize(oldFact), delta, dims, measures)
    val rebuilt = summarize(oldFact.unionByName(delta))
    // canonical serialization ⇒ equal sets have equal base64 text
    def readable(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("bm", base64(col("bm")))
    assertSameRows(readable(maintained), readable(rebuilt))
  }

  test("maintainSummary: new dim groups appear, empty delta is a " +
      "no-op, schema preserved, unmaintainable columns rejected") {
    import spark.implicits._
    import graft.plans.AggRouting
    val dims = Seq("g")
    val measures = Map[org.apache.spark.sql.Column, String](
      sum(col("v").cast("decimal(18,2)")) -> "s",
      count(lit(1)) -> "c",
      min(col("v")) -> "mn")
    val aggCols = measures.toSeq.map { case (cc, n) => cc.as(n) }
    def summarize(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("g").agg(aggCols.head, aggCols.tail: _*)
    val oldFact = Seq(("a", 1.0), ("a", 2.0), ("b", 5.0)).toDF("g", "v")
    val delta = Seq(("a", 10.0), ("z", 7.0)).toDF("g", "v") // z is new
    val maintained = AggRouting.maintainSummary(
      summarize(oldFact), delta, dims, measures)
    val rebuilt = summarize(oldFact.unionByName(delta))
    // names/types must match exactly; nullability may widen (the count
    // column re-aggregates through Sum, which is nullable) — same
    // benign superset as the routing rewrite
    assert(maintained.schema.map(f => (f.name, f.dataType)) ==
      rebuilt.schema.map(f => (f.name, f.dataType)),
      s"${maintained.schema} vs ${rebuilt.schema}")
    assertSameRows(maintained, rebuilt)
    // empty delta: identical summary back
    val noop = AggRouting.maintainSummary(
      summarize(oldFact), delta.limit(0), dims, measures)
    assertSameRows(noop, summarize(oldFact))
    // a summary column not covered by dims or measures must raise
    val err = intercept[IllegalArgumentException] {
      AggRouting.maintainSummary(
        summarize(oldFact).withColumn("extra", lit(1)),
        delta, dims, measures)
    }
    assert(err.getMessage.contains("extra"))
  }

  test("maintainSummary refuses count(DISTINCT) over a one-row delta " +
      "as over a two-row one") {
    import spark.implicits._
    import graft.plans.AggRouting
    // over one row the optimizer drops DISTINCT; the refusal must not
    // depend on the delta's size
    val c = countDistinct(col("v"))
    val summary = Seq(("a", 1L)).toDF("g", "m")
    def refusal(delta: org.apache.spark.sql.DataFrame) =
      intercept[IllegalArgumentException] {
        AggRouting.maintainSummary(summary, delta, Seq("g"), Map(c -> "m"))
      }.getMessage
    val twoRows = refusal(Seq(("a", 1L), ("b", 2L)).toDF("g", "v"))
    assert(twoRows.contains("distinct/filtered aggregates do not decompose"),
      twoRows)
    assert(refusal(Seq(("a", 1L)).toDF("g", "v")) == twoRows)
  }

  test("agg routing bails out: measure filter, unknown aggregate, " +
      "distinct, global (no grouping), and disabled flag") {
    ensureRoute()
    val fact = Engine.table(spark, sf, "lineitem")
    def assertNotRouted(df: org.apache.spark.sql.DataFrame,
        why: String): Unit =
      assert(scannedPaths(df).contains("lineitem"),
        s"$why must not route")
    withSQLConf("spark.graft.aggRouting.enabled" -> "true") {
      // filter on a MEASURE column needs raw rows
      assertNotRouted(fact.filter(col("l_quantity") > 10)
        .groupBy("l_returnflag").agg(count(lit(1)).as("n")),
        "measure filter")
      // an aggregate with no registered canonical
      assertNotRouted(fact.groupBy("l_returnflag")
        .agg(sum(col("l_tax")).as("s")), "unregistered measure")
      // count(distinct) does not decompose over a summary
      assertNotRouted(fact.groupBy("l_returnflag")
        .agg(countDistinct(col("l_quantity")).as("d")), "distinct")
      // global aggregate: empty-fact count()=0 vs empty-summary null
      assert(fact.groupBy().agg(count(lit(1)).as("n"))
        .queryExecution.optimizedPlan.toString.contains("Relation") &&
        scannedPaths(fact.agg(count(lit(1)).as("n")))
          .contains("lineitem"), "global aggregate must not route")
      // grouping by a non-dim column
      assertNotRouted(fact.groupBy("l_orderkey")
        .agg(count(lit(1)).as("n")).limit(1), "non-dim grouping")
    }
    // flag off: never routes
    assertNotRouted(fact.groupBy("l_returnflag")
      .agg(count(lit(1)).as("n")), "disabled flag")
  }

  test("CDC view maintenance: maintained == rebuilt through " +
      "merge/delete/update, dead groups drop, min rejects") {
    import graft.operators.VersionedTable
    import org.apache.spark.sql.Column
    import spark.implicits._
    val root = tmpDir("cdcivm")
    val base = (1L to 100L).toSeq
      .map(i => (i, s"g${i % 5}", (i % 13).toInt)).toDF("id", "g", "v")
    VersionedTable.commit(spark, root, base)                        // v1
    val measures = Map[Column, String](
      count(lit(1)) -> "n", sum(col("v")) -> "sv")
    def summarize(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("g").agg(count(lit(1)).as("n"),
        sum(col("v")).cast("long").as("sv"))
    val summary0 = summarize(VersionedTable.read(spark, root, Some(1L)))
      .cache()
    summary0.count()
    // v2: one merge mixing update (+1000 on some rows), delete, insert
    VersionedTable.merge(spark, root,
      base.filter(col("id") <= 10).withColumn("v", col("v") + 1000)
        .unionByName(base.filter(col("id").between(11, 15))
          .withColumn("v", lit(-1)))
        .unionByName(Seq((200L, "g9", 7), (201L, "g9", 9))
          .toDF("id", "g", "v")),
      Seq("id"), deleteMatched = Some(col("v") === -1))
    // v3: kill group g0 entirely — the maintained summary must DROP it
    VersionedTable.deleteWhere(spark, root, col("g") === "g0")
    val changes = VersionedTable.changesBetween(spark, root, 1L, 3L)
    val maintained = plans.AggRouting.maintainSummaryFromCdc(
      summary0, changes, Seq("g"), measures, countCol = "n")
    val rebuilt = summarize(VersionedTable.read(spark, root))
    assertSameRows(maintained.orderBy("g"), rebuilt.orderBy("g"))
    assert(maintained.filter(col("g") === "g0").count() == 0,
      "fully-deleted group must vanish from the maintained summary")
    assert(maintained.filter(col("g") === "g9").count() == 1,
      "group born in the feed must appear")
    // min/max cannot retract: rejected up front, not silently wrong
    val minSummary = VersionedTable.read(spark, root, Some(1L))
      .groupBy("g").agg(count(lit(1)).as("n"), min(col("v")).as("mv"))
    val err = intercept[IllegalArgumentException] {
      plans.AggRouting.maintainSummaryFromCdc(minSummary, changes,
        Seq("g"), Map[Column, String](count(lit(1)) -> "n",
          min(col("v")) -> "mv"), countCol = "n")
    }
    assert(err.getMessage.contains("RETRACT"), err.getMessage)
    summary0.unpersist()
  }

  test("CDC retraction of a multi-column count counts a row only when " +
      "every column is non-null") {
    import org.apache.spark.sql.Column
    import spark.implicits._
    val rows = Seq(("x", Some(1), Option.empty[Int]), ("x", Some(1), Some(2)))
      .toDF("g", "a", "b")
    val measures = Map[Column, String](
      count(lit(1)) -> "n", call_function("count", col("a"), col("b")) -> "c2")
    def summarize(df: org.apache.spark.sql.DataFrame) = df.groupBy("g")
      .agg(count(lit(1)).as("n"), call_function("count", col("a"), col("b"))
        .as("c2"))
    val changes = rows.limit(1).withColumn("change", lit("delete"))
    val maintained = plans.AggRouting.maintainSummaryFromCdc(
      summarize(rows), changes, Seq("g"), measures, countCol = "n")
    assertSameRows(maintained,
      summarize(Seq(("x", Some(1), Some(2))).toDF("g", "a", "b")))
  }

  test("CDC maintenance refuses a null countCol by name") {
    import org.apache.spark.sql.Column
    import spark.implicits._
    val fact = Seq(("x", 1L)).toDF("g", "v")
    val summary = fact.groupBy("g").agg(count(lit(1)).as("n"))
    val ex = intercept[IllegalArgumentException] {
      plans.AggRouting.maintainSummaryFromCdc(summary,
        fact.withColumn("change", lit("insert")), Seq("g"),
        Map[Column, String](count(lit(1)) -> "n"), countCol = null)
    }
    assert(ex.getMessage.contains("countCol"), ex.getMessage)
  }

  test("text/similarity kernel family is reachable from SQL text") {
    import spark.implicits._
    val df = Seq((1L, "the cat sat on the mat the cat"))
      .toDF("id", "text")
    df.createOrReplaceTempView("t_sql_fn")
    // SQL forms must equal the Scala DSL forms (same expressions)
    val sqlRow = spark.sql(
      """SELECT word_shingles(split(text, ' '), 2) AS sh,
                simhash64(split(text, ' ')) AS h64,
                minhash_sig(word_shingles(split(text, ' '), 2), 8) AS mh,
                winnow_fps(text, 8, 4) AS fps
         FROM t_sql_fn""").head()
    val dslRow = df.select(
      graft.functions.WordShingles.wordShingles(
        split(col("text"), " "), 2).as("sh"),
      graft.functions.SimHash64.simhash64(
        split(col("text"), " ")).as("h64"),
      graft.functions.MinHashSig.minhashSig(
        graft.functions.WordShingles.wordShingles(
          split(col("text"), " "), 2), 8).as("mh"),
      graft.functions.Winnow.winnow(col("text"), 8, 4).as("fps")).head()
    assert(sqlRow == dslRow)
    // vector kernels on literals
    val v = spark.sql(
      """SELECT cosine_sim(array(3.0D, 4.0D), array(3.0D, 4.0D)) AS c,
                dot_sim(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d,
                unit_norm(array(3.0D, 4.0D)) AS u,
                hyperplane_lsh(array(3.0D, 4.0D), 2, 12, 42) AS b
      """).head()
    assert(math.abs(v.getDouble(0) - 1.0) < 1e-12)
    assert(v.getDouble(1) == 11.0)
    assert(v.getSeq[Double](2).map(x => math.round(x * 10) / 10.0) ==
      Seq(0.6, 0.8))
    // bpe_encode with a literal merge table
    val bpe = spark.sql(
      "SELECT bpe_encode('lowest low', 'l o,lo w,low </w>')").head()
      .getSeq[String](0)
    assert(bpe == Seq("low", "e", "s", "t", "</w>", "low</w>"))
    // non-literal parameter is rejected with a clear error
    val err = intercept[Exception] {
      spark.sql("SELECT word_shingles(split(text, ' '), id) FROM t_sql_fn")
        .head()
    }
    assert(err.getMessage.contains("literal"))
  }

  test("earliest_events as SQL: bounded, sorted, group-keyed") {
    import spark.implicits._
    Seq((1L, 30L, 1), (1L, 10L, 0), (1L, 20L, 2),
        (2L, 5L, 0), (2L, 5L, 1))
      .toDF("u", "t", "si").createOrReplaceTempView("t_ee")
    val rows = spark.sql(
      """SELECT u, earliest_events(t, si, 2) AS ev
         FROM t_ee GROUP BY u ORDER BY u""").collect()
    def pairs(r: org.apache.spark.sql.Row) =
      r.getSeq[org.apache.spark.sql.Row](1)
        .map(e => (e.getLong(0), e.getInt(1)))
    // cap=2 keeps the earliest two by (t, si), ascending
    assert(pairs(rows(0)) == Seq((10L, 0), (20L, 2)))
    assert(pairs(rows(1)) == Seq((5L, 0), (5L, 1)))
  }
}
