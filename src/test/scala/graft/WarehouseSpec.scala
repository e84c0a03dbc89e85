package graft

import org.apache.spark.sql.functions._
import graft.operators.Warehouse

class WarehouseSpec extends SparkSuite {
  import spark.implicits._

  test("writePartitioned + dynamic overwrite replaces only touched partitions") {
    val dir = tmpDir("wh_dyn")
    val day1 = Seq(("2024-01-01", 1, "a"), ("2024-01-02", 2, "b"))
      .toDF("dt", "id", "v")
    Warehouse.writePartitioned(day1, dir, Seq("dt"))
    // overwrite only dt=2024-01-02
    val day2 = Seq(("2024-01-02", 9, "z")).toDF("dt", "id", "v")
    Warehouse.writePartitioned(day2, dir, Seq("dt"), overwriteDynamic = true)
    // partition values come back type-inferred (DATE) -> compare as text
    val out = spark.read.parquet(dir).collect()
      .map(r => (r.getAs[Any]("dt").toString, r.getAs[Int]("id"))).toSet
    assert(out == Set(("2024-01-01", 1), ("2024-01-02", 9)))
  }

  test("upsertByKey: latest version wins, new keys appended") {
    val existing = Seq((1L, "old", 1L), (2L, "keep", 1L)).toDF("k", "v", "ver")
    val updates = Seq((1L, "new", 2L), (3L, "ins", 1L)).toDF("k", "v", "ver")
    val out = Warehouse.upsertByKey(existing, updates, Seq("k"), "ver")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "new", 2L -> "keep", 3L -> "ins"))
  }

  test("scd2Merge closes changed rows and opens new versions") {
    val dim = Seq(
      (1L, "addr_a", "2024-01-01", "9999-12-31"),
      (2L, "addr_b", "2024-01-01", "9999-12-31"))
      .toDF("k", "addr", "valid_from", "valid_to")
    val changes = Seq((1L, "addr_a2", "2024-02-01")).toDF("k", "addr", "eff")
    val out = Warehouse.scd2Merge(dim, changes, "k", Seq("addr"), "eff")
      .orderBy("k", "valid_from").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3)))
    assert(out.toSeq == Seq(
      (1L, "addr_a", "2024-01-01", "2024-02-01"),
      (1L, "addr_a2", "2024-02-01", "9999-12-31"),
      (2L, "addr_b", "2024-01-01", "9999-12-31")))
  }

  test("scd2Merge appends brand-new keys as fresh open rows") {
    val dim = Seq((1L, "addr_a", "2024-01-01", "9999-12-31"))
      .toDF("k", "addr", "valid_from", "valid_to")
    val changes = Seq((1L, "addr_a2", "2024-02-01"), (9L, "addr_new", "2024-02-01"))
      .toDF("k", "addr", "eff")
    val out = Warehouse.scd2Merge(dim, changes, "k", Seq("addr"), "eff")
      .orderBy("k", "valid_from").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3)))
    assert(out.toSeq == Seq(
      (1L, "addr_a", "2024-01-01", "2024-02-01"),
      (1L, "addr_a2", "2024-02-01", "9999-12-31"),
      (9L, "addr_new", "2024-02-01", "9999-12-31")))
  }

  test("mergeIntoPartitioned rewrites only partitions carrying updates") {
    val dir = tmpDir("wh_merge")
    val base = Seq(
      (1L, "a", 1L, "2024-01-01"), (2L, "b", 1L, "2024-01-01"),
      (3L, "c", 1L, "2024-01-02"), (4L, "d", 1L, "2024-01-03"))
      .toDF("k", "v", "ver", "dt")
    Warehouse.writePartitioned(base, dir, Seq("dt"))
    val untouched = new java.io.File(s"$dir/dt=2024-01-03")
      .listFiles().filter(_.getName.endsWith(".parquet"))
      .map(f => f.getName -> f.lastModified).toMap
    // update key 1, insert key 9 — both land in dt=2024-01-01
    val updates = Seq((1L, "a2", 2L, "2024-01-01"), (9L, "new", 1L, "2024-01-01"))
      .toDF("k", "v", "ver", "dt")
    Warehouse.mergeIntoPartitioned(spark, dir, updates,
      Seq("k"), "ver", "dt")
    val out = spark.read.parquet(dir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "a2", 2L -> "b", 3L -> "c", 4L -> "d", 9L -> "new"))
    // the dt=2024-01-03 partition was not rewritten
    val after = new java.io.File(s"$dir/dt=2024-01-03")
      .listFiles().filter(_.getName.endsWith(".parquet"))
      .map(f => f.getName -> f.lastModified).toMap
    assert(after == untouched, "untouched partition must keep its files")
  }

  test("mergeIntoPartitioned killed at the commit point: target reads " +
      "consistent pre-merge data; the next entry rolls the swap forward") {
    val dir = tmpDir("wh_merge_crash")
    val base = Seq(
      (1L, "a", 1L, "2024-01-01"), (2L, "b", 1L, "2024-01-01"),
      (3L, "c", 1L, "2024-01-02"))
      .toDF("k", "v", "ver", "dt")
    Warehouse.writePartitioned(base, dir, Seq("dt"))
    val updates = Seq((1L, "a2", 2L, "2024-01-01"), (9L, "new", 1L, "2024-01-01"))
      .toDF("k", "v", "ver", "dt")
    // run everything up to and including the manifest install, then
    // "die" — exactly the on-disk state of a merge killed between its
    // side-dir write and the partition swap
    Warehouse.mergePrepare(spark, dir, updates, Seq("k"), "ver", "dt")
    assert(new java.io.File(s"$dir/_graft_merge_manifest").exists)
    // a reader at this moment sees the COMPLETE pre-merge table — the
    // target partitions have not been touched
    val mid = spark.read.parquet(dir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(mid == Map(1L -> "a", 2L -> "b", 3L -> "c"))
    // recovery (run by the next merge on entry, or standalone) rolls
    // the committed swap FORWARD — the merge's effects appear exactly
    // once, no partial partition
    assert(Warehouse.recoverMerge(spark, dir))
    val out = spark.read.parquet(dir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "a2", 2L -> "b", 3L -> "c", 9L -> "new"))
    assert(!new java.io.File(s"$dir/_graft_merge_manifest").exists)
    assert(!new java.io.File(dir + "__merge_tmp").exists)
    assert(!Warehouse.recoverMerge(spark, dir), "no manifest -> no-op")
  }

  test("mergeIntoPartitioned killed before the commit point (torn " +
      "manifest): swap treated as not started, target keeps old data") {
    val dir = tmpDir("wh_merge_torn")
    val base = Seq((1L, "a", 1L, "2024-01-01"))
      .toDF("k", "v", "ver", "dt")
    Warehouse.writePartitioned(base, dir, Seq("dt"))
    // stray side dir + manifest missing its #END terminator = a writer
    // that died mid-manifest-write on a non-atomic store
    val tmp = new java.io.File(dir + "__merge_tmp/dt=2024-01-01")
    tmp.mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "_graft_merge_manifest"),
      dir + "__merge_tmp\ndt=2024-01-01\n")
    assert(!Warehouse.recoverMerge(spark, dir))
    val out = spark.read.parquet(dir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "a"), "torn manifest must not lose target data")
    assert(!new java.io.File(dir + "__merge_tmp").exists,
      "uncommitted side dir is discarded")
  }

  test("mergeIntoPartitioned single-writer lease: a live concurrent " +
      "writer fails fast; a stale lock is broken and merge proceeds") {
    val dir = tmpDir("wh_merge_lock")
    val base = Seq((1L, "a", 1L, "2024-01-01"))
      .toDF("k", "v", "ver", "dt")
    Warehouse.writePartitioned(base, dir, Seq("dt"))
    val updates = Seq((1L, "a2", 2L, "2024-01-01"))
      .toDF("k", "v", "ver", "dt")
    // another writer holds the lease (fresh mtime = alive)
    val lock = new java.io.File(dir, "_graft_merge_lock")
    assert(lock.createNewFile())
    val err = intercept[java.io.IOException] {
      Warehouse.mergeIntoPartitioned(spark, dir, updates,
        Seq("k"), "ver", "dt")
    }
    assert(err.getMessage.contains("merge lock"), err.getMessage)
    // loser touched nothing — including the HOLDER'S lease (release
    // is ownership-verified; an unconditional delete here would open
    // the table to a third writer while the holder still runs)
    assert(lock.exists, "fail-fast must not delete the live lease")
    assert(spark.read.parquet(dir).collect()
      .map(r => r.getString(1)).toSeq == Seq("a"))
    // the holder died: a lease past the stale window is broken
    assert(lock.setLastModified(
      System.currentTimeMillis() - 31 * 60 * 1000L))
    Warehouse.mergeIntoPartitioned(spark, dir, updates,
      Seq("k"), "ver", "dt")
    assert(spark.read.parquet(dir).collect()
      .map(r => r.getString(1)).toSeq == Seq("a2"))
    assert(!lock.exists, "lease must be released after the merge")
  }

  test("mergeIntoSql SET list: alias strip is case-insensitive, " +
      "unknown SET columns raise instead of silently no-oping") {
    import spark.implicits._
    val t = Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("k", "st", "tp")
    val s = Seq((2L, "x", 99.0)).toDF("k", "st", "tp")
    // 'SET T.tp' under alias 't': the case-insensitive parser accepts
    // the clause, so the alias strip must too — pre-fix this yielded
    // update key "T.tp", which mergeInto silently ignored
    val upper = graft.operators.Warehouse.mergeIntoSql(spark,
      """MERGE INTO snap t USING delta s ON t.k = s.k
         WHEN MATCHED THEN UPDATE SET T.tp = s.tp""",
      Map("snap" -> t, "delta" -> s))
      .collect().map(r => (r.getLong(0), r.getDouble(2))).sortBy(_._1)
    assert(upper.toSeq == Seq((1L, 10.0), (2L, 99.0)), upper.mkString(","))
    // a typo'd SET column is an error, not a no-op
    val err = intercept[IllegalArgumentException] {
      graft.operators.Warehouse.mergeIntoSql(spark,
        """MERGE INTO snap t USING delta s ON t.k = s.k
           WHEN MATCHED THEN UPDATE SET typo_col = s.tp""",
        Map("snap" -> t, "delta" -> s))
    }
    assert(err.getMessage.contains("typo_col"))
  }

  test("mergeInto: update, delete, and insert branches all apply; " +
      "no-insert mode drops unmatched source rows") {
    import spark.implicits._
    val t = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("k", "st", "tp")
    val s = Seq(
      (2L, "b", 99.0),  // matched → update tp
      (3L, "c", -1.0),  // matched + delete flag → removed
      (4L, "d", 40.0))  // unmatched → insert
      .toDF("k", "st", "tp")
    val merged = graft.operators.Warehouse.mergeInto(t, s, Seq("k"),
        whenMatchedUpdate = Map("tp" -> org.apache.spark.sql.functions.col("s.tp")),
        whenNotMatchedInsert = true,
        whenMatchedDelete = Some(org.apache.spark.sql.functions.col("s.tp") < 0))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      .sortBy(_._1)
    assert(merged.toSeq == Seq((1L, "a", 10.0), (2L, "b", 99.0),
      (4L, "d", 40.0)))
    val noInsert = graft.operators.Warehouse.mergeInto(t, s, Seq("k"),
        whenMatchedUpdate = Map("tp" -> org.apache.spark.sql.functions.col("s.tp")),
        whenNotMatchedInsert = false)
      .collect().map(_.getLong(0)).sorted
    assert(noInsert.toSeq == Seq(1L, 2L, 3L))
  }

  test("mergeInto: assertSourceUnique raises on a double-matching source " +
      "key instead of fanning out") {
    import spark.implicits._
    val t = Seq((1L, "a", 10.0)).toDF("k", "st", "tp")
    val dup = Seq((1L, "a", 11.0), (1L, "a", 12.0)).toDF("k", "st", "tp")
    val up = Map("tp" -> org.apache.spark.sql.functions.col("s.tp"))
    // silent default keeps the (documented) fan-out
    assert(graft.operators.Warehouse.mergeInto(t, dup, Seq("k"), up)
      .count() == 2)
    val e = intercept[Exception] {
      graft.operators.Warehouse.mergeInto(t, dup, Seq("k"), up,
        assertSourceUnique = true).collect()
    }
    def msgs(x: Throwable): Seq[String] =
      if (x == null) Nil else String.valueOf(x.getMessage) +: msgs(x.getCause)
    assert(msgs(e).exists(_.contains("duplicate source key")), e.toString)
    // unique source passes the guard unchanged
    val ok = graft.operators.Warehouse.mergeInto(t,
        Seq((1L, "a", 11.0)).toDF("k", "st", "tp"), Seq("k"), up,
        assertSourceUnique = true)
      .collect().map(r => (r.getLong(0), r.getDouble(2)))
    assert(ok.toSeq == Seq((1L, 11.0)))
  }

  test("mergeIntoSql parses the reference MERGE text: delete-first " +
      "clause order, aliased update exprs, INSERT *") {
    import spark.implicits._
    val t = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("k", "st", "tp")
    val s = Seq((2L, "b", 99.0), (3L, "c", -1.0), (4L, "d", 40.0))
      .toDF("k", "st", "tp")
    val merged = graft.operators.Warehouse.mergeIntoSql(spark,
      """MERGE INTO snap AS tgt USING delta AS src ON tgt.k = src.k
         WHEN MATCHED AND src.tp < 0 THEN DELETE
         WHEN MATCHED THEN UPDATE SET tp = src.tp + tgt.tp
         WHEN NOT MATCHED THEN INSERT *""",
      Map("snap" -> t, "delta" -> s))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      .sortBy(_._1)
    assert(merged.toSeq == Seq((1L, "a", 10.0), (2L, "b", 119.0),
      (4L, "d", 40.0)), merged.mkString(","))
    // conditional UPDATE before DELETE: ANSI first-match-wins — the
    // delete only sees rows the update condition rejected
    val ordered = graft.operators.Warehouse.mergeIntoSql(spark,
      """MERGE INTO snap t USING delta s ON t.k = s.k
         WHEN MATCHED AND s.tp > 50 THEN UPDATE SET tp = s.tp
         WHEN MATCHED THEN DELETE
         WHEN NOT MATCHED THEN INSERT (k, st, tp) VALUES (s.k, s.st, s.tp)""",
      Map("snap" -> t, "delta" -> s))
      .collect().map(r => (r.getLong(0), r.getDouble(2))).sortBy(_._1)
    // k=2: tp 99 > 50 → updated; k=3: tp -1 → deleted; k=4 inserted
    assert(ordered.toSeq == Seq((1L, 10.0), (2L, 99.0), (4L, 40.0)),
      ordered.mkString(","))
    // catalog resolution path: temp views, no tables map
    t.createOrReplaceTempView("merge_sql_t")
    s.createOrReplaceTempView("merge_sql_s")
    val viaCatalog = graft.operators.Warehouse.mergeIntoSql(spark,
      """MERGE INTO merge_sql_t USING merge_sql_s
           ON merge_sql_t.k = merge_sql_s.k
         WHEN MATCHED THEN UPDATE SET tp = merge_sql_s.tp""")
      .collect().map(r => (r.getLong(0), r.getDouble(2))).sortBy(_._1)
    assert(viaCatalog.toSeq == Seq((1L, 10.0), (2L, 99.0), (3L, -1.0)))
  }

  test("mergeIntoSql edge semantics: source alias 't', unconditional " +
      "update shadowing a later delete, quoted literals in SET") {
    import spark.implicits._
    val t = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", -5.0))
      .toDF("k", "st", "tp")
    val s = Seq((2L, "x", 99.0), (3L, "y", -1.0), (4L, "z", 40.0))
      .toDF("k", "st", "tp")
    // source alias is literally "t": a two-pass alias rewrite would
    // turn the just-written target refs into source refs (s.tp + s.tp)
    val collide = graft.operators.Warehouse.mergeIntoSql(spark,
      """MERGE INTO snap USING delta AS t ON snap.k = t.k
         WHEN MATCHED THEN UPDATE SET tp = snap.tp + t.tp""",
      Map("snap" -> t, "delta" -> s))
      .collect().map(r => (r.getLong(0), r.getDouble(2))).sortBy(_._1)
    assert(collide.toSeq == Seq((1L, 10.0), (2L, 119.0), (3L, -6.0)),
      collide.mkString(","))
    // an UNCONDITIONAL update before another WHEN MATCHED clause would
    // make that clause unreachable: Spark's grammar refuses it, on
    // frames as on every MERGE target
    val shadowed = intercept[org.apache.spark.sql.catalyst.parser.ParseException] {
      graft.operators.Warehouse.mergeIntoSql(spark,
        """MERGE INTO snap t USING delta s ON t.k = s.k
           WHEN MATCHED THEN UPDATE SET tp = s.tp
           WHEN MATCHED AND s.tp < 0 THEN DELETE""",
        Map("snap" -> t, "delta" -> s))
    }
    assert(shadowed.getMessage.contains(
      "NON_LAST_MATCHED_CLAUSE_OMIT_CONDITION"), shadowed.getMessage)
    // quoted literals: a comma inside a string must not split the SET
    // list, and alias-shaped text inside quotes must stay verbatim
    // (a quote-blind rewrite would turn 'src.x, tgt.y' into 's.x, t.y')
    val quoted = graft.operators.Warehouse.mergeIntoSql(spark,
      """MERGE INTO snap tgt USING delta src ON tgt.k = src.k
         WHEN MATCHED THEN UPDATE SET st = 'src.x, tgt.y', tp = src.tp""",
      Map("snap" -> t, "delta" -> s))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      .sortBy(_._1)
    assert(quoted.toSeq == Seq((1L, "a", 10.0), (2L, "src.x, tgt.y", 99.0),
      (3L, "src.x, tgt.y", -1.0)), quoted.mkString(","))
    // identical aliases are ambiguous, not silently misbound
    intercept[IllegalArgumentException] {
      graft.operators.Warehouse.mergeIntoSql(spark,
        """MERGE INTO snap x USING delta x ON x.k = x.k
           WHEN MATCHED THEN UPDATE SET tp = x.tp""",
        Map("snap" -> t, "delta" -> s))
    }
  }

  test("mergeIntoSql: UPDATE SET * takes the whole source row; a " +
      "partial INSERT list is refused, not widened") {
    import spark.implicits._
    val t = Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("k", "st", "tp")
    val s = Seq((2L, "x", 99.0), (4L, "z", 40.0)).toDF("k", "st", "tp")
    val star = graft.operators.Warehouse.mergeIntoSql(spark,
      """MERGE INTO snap t USING delta s ON t.k = s.k
         WHEN MATCHED THEN UPDATE SET *
         WHEN NOT MATCHED THEN INSERT *""",
      Map("snap" -> t, "delta" -> s))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      .sortBy(_._1)
    assert(star.toSeq == Seq((1L, "a", 10.0), (2L, "x", 99.0),
      (4L, "z", 40.0)), star.mkString(","))
    // ANSI leaves unlisted INSERT columns NULL; mergeInto inserts the
    // whole source row, so a list that skips a column is an error
    val partial = intercept[IllegalArgumentException] {
      graft.operators.Warehouse.mergeIntoSql(spark,
        """MERGE INTO snap t USING delta s ON t.k = s.k
           WHEN NOT MATCHED THEN INSERT (k) VALUES (s.k)""",
        Map("snap" -> t, "delta" -> s))
    }
    assert(partial.getMessage.contains("st, tp"), partial.getMessage)
  }

  test("one MERGE text, two targets: frames via mergeIntoSql and a " +
      "vtab via SQL give the same rows") {
    import spark.implicits._
    import graft.operators.{VTabCatalog, VersionedTable}
    val rows = Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L))
    val root = tmpDir("merge_twin")
    VersionedTable.commit(spark, root, rows.toDF("k", "st", "qty"))
    Seq((2L, "x", 5L), (3L, "DEL", 7L), (4L, "n", 9L))
      .toDF("k", "st", "qty").createOrReplaceTempView("merge_twin_src")
    val stmt =
      """MERGE INTO merge_twin.snap t USING merge_twin_src s ON t.k = s.k
         WHEN MATCHED AND s.st = 'DEL' THEN DELETE
         WHEN MATCHED THEN UPDATE SET qty = t.qty + s.qty
         WHEN NOT MATCHED THEN INSERT *"""
    VTabCatalog.register("merge_twin.snap", root)
    try {
      val frames = graft.operators.Warehouse.mergeIntoSql(spark, stmt,
        Map("merge_twin.snap" -> rows.toDF("k", "st", "qty")))
      spark.sql(stmt)
      assertSameRows(frames, VersionedTable.read(spark, root))
      assert(frames.collect().map(_.getLong(0)).sorted.toSeq ==
        Seq(1L, 2L, 4L))
    } finally VTabCatalog.unregister("merge_twin.snap")
  }

  test("compactSmallFiles merges many small files, preserves rows") {
    val dir = tmpDir("wh_compact")
    val df = spark.range(1000).toDF("id")
    df.repartition(20).write.mode("overwrite").parquet(dir)
    val (before, after) = Warehouse.compactSmallFiles(spark, dir)
    assert(before == 20 && after == 1, s"$before -> $after")
    assert(spark.read.parquet(dir).count() == 1000)
  }

  test("recoverCompaction rolls an interrupted swap forward without data loss") {
    val dir = tmpDir("wh_recover")
    spark.range(100).toDF("id").repartition(4)
      .write.mode("overwrite").parquet(dir)
    val inputs = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath).toSeq
    // simulate a crash AFTER manifest write, BEFORE any swap step:
    // compacted output sits in tmp, manifest present, inputs untouched
    val tmp = dir + "__compact_tmp"
    spark.read.parquet(inputs: _*).repartition(1)
      .write.mode("overwrite").parquet(tmp)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "_graft_compaction_manifest"),
      (tmp + "\n" + inputs.mkString("\n") +
        s"\n#END:${inputs.size}\n").getBytes("UTF-8"))
    assert(Warehouse.recoverCompaction(spark, dir))
    assert(spark.read.parquet(dir).count() == 100)
    assert(new java.io.File(dir).listFiles()
      .count(_.getName.endsWith(".parquet")) == 1)
    assert(!new java.io.File(dir, "_graft_compaction_manifest").exists)
    assert(!Warehouse.recoverCompaction(spark, dir), "no manifest -> no-op")
  }

  test("recoverCompaction treats a torn manifest as swap-not-started") {
    val dir = tmpDir("wh_torn")
    spark.range(100).toDF("id").repartition(4)
      .write.mode("overwrite").parquet(dir)
    val inputs = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath).toSeq
    val tmp = dir + "__compact_tmp"
    spark.range(50).toDF("id").repartition(1)
      .write.mode("overwrite").parquet(tmp)
    // crash mid-manifest-write: no #END terminator, truncated input list
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "_graft_compaction_manifest"),
      (tmp + "\n" + inputs.head).getBytes("UTF-8"))
    assert(!Warehouse.recoverCompaction(spark, dir),
      "torn manifest must not count as a committed swap")
    // inputs intact, bad manifest + orphan tmp cleaned up
    assert(spark.read.parquet(dir).count() == 100)
    assert(new java.io.File(dir).listFiles()
      .count(_.getName.endsWith(".parquet")) == 4)
    assert(!new java.io.File(dir, "_graft_compaction_manifest").exists)
    assert(!new java.io.File(tmp).exists)
    // empty manifest (crash at create): same treatment, and compaction
    // itself still works afterwards (not bricked)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "_graft_compaction_manifest"),
      Array.empty[Byte])
    assert(!Warehouse.recoverCompaction(spark, dir))
    val (before, after) = Warehouse.compactSmallFiles(spark, dir)
    assert(before == 4 && after == 1)
    assert(spark.read.parquet(dir).count() == 100)
  }

  test("scd2Merge reopens keys present only as closed history") {
    // key 2 was retired (no open row); a change must create a fresh
    // open row, not be silently dropped
    val dim = Seq(
      (1L, "addr_a", "2024-01-01", "9999-12-31"),
      (2L, "addr_old", "2023-01-01", "2023-06-01"))
      .toDF("k", "addr", "valid_from", "valid_to")
    val changes = Seq((2L, "addr_back", "2024-03-01")).toDF("k", "addr", "eff")
    val out = Warehouse.scd2Merge(dim, changes, "k", Seq("addr"), "eff")
      .orderBy("k", "valid_from").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3)))
    assert(out.toSeq == Seq(
      (1L, "addr_a", "2024-01-01", "9999-12-31"),
      (2L, "addr_old", "2023-01-01", "2023-06-01"),
      (2L, "addr_back", "2024-03-01", "9999-12-31")))
  }

  test("dropManaged handles 1-, 2-, and 3-part table identifiers") {
    // none of these exist — the call must resolve and no-op, not throw
    Warehouse.dropManaged(spark, "graft_no_such_table")
    Warehouse.dropManaged(spark, "default.graft_no_such_table")
    Warehouse.dropManaged(spark, "spark_catalog.default.graft_no_such_table")
  }

  test("narrow<->wide tag pivot roundtrips") {
    val narrow = Seq(
      ("u1", "vip", "true"), ("u1", "score", "7"), ("u2", "vip", "false"))
      .toDF("uid", "tag_name", "tag_value")
    val wide = Warehouse.narrowToWide(narrow, "uid", "tag_name",
      "tag_value", Seq("vip", "score"))
    assert(wide.filter($"uid" === "u1").head().getString(1) == "true")
    val back = Warehouse.wideToNarrow(wide, "uid", Seq("vip", "score"))
      .filter(col("tag_value").isNotNull)
    assert(back.count() == 3)
  }

  test("ctas + layer databases") {
    Warehouse.createLayers(spark)
    Engine.registerAll(spark, sf)
    spark.sql("DROP TABLE IF EXISTS dws.part_summary")
    Warehouse.ctas(spark, "dws.part_summary",
      "SELECT p_brand, count(*) AS n FROM part GROUP BY p_brand")
    assert(spark.table("dws.part_summary").count() > 0)
    spark.sql("DROP TABLE dws.part_summary")
  }
}
