package graft.operators

import graft.{Engine, SparkSuite}
import org.apache.spark.sql.functions._

/** Versioned table format: log-of-snapshots commit protocol, snapshot
  * isolation, time travel, rollback, vacuum, torn-manifest recovery. */
class VersionedTableSpec extends SparkSuite {
  import spark.implicits._

  test("append/overwrite commits; time travel reads every version") {
    val root = tmpDir("vtab")
    val v1 = VersionedTable.commit(spark, root,
      Seq((1L, "a"), (2L, "b")).toDF("id", "s"))
    val v2 = VersionedTable.commit(spark, root,
      Seq((3L, "c")).toDF("id", "s"))
    val v3 = VersionedTable.commit(spark, root,
      Seq((9L, "z")).toDF("id", "s"), overwrite = true)
    assert(Seq(v1, v2, v3) == Seq(1L, 2L, 3L))
    assert(VersionedTable.versions(spark, root) == Seq(1L, 2L, 3L))
    def ids(asOf: Option[Long]) = VersionedTable.read(spark, root, asOf)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(ids(Some(1L)) == Set(1L, 2L))
    assert(ids(Some(2L)) == Set(1L, 2L, 3L))     // append accumulated
    assert(ids(Some(3L)) == Set(9L))             // overwrite replaced
    assert(ids(None) == Set(9L))                 // latest
  }

  test("snapshot isolation: a pinned read never sees later commits") {
    val root = tmpDir("vtabiso")
    VersionedTable.commit(spark, root, Seq((1L, "a")).toDF("id", "s"))
    val pinned = VersionedTable.read(spark, root) // resolved at v1
    VersionedTable.commit(spark, root, Seq((2L, "b")).toDF("id", "s"))
    assert(pinned.select("id").collect().map(_.getLong(0)).toSet ==
      Set(1L), "read planned at v1 must not see v2's files")
  }

  test("rollback commits a new version with the old content") {
    val root = tmpDir("vtabrb")
    VersionedTable.commit(spark, root, Seq((1L, "a")).toDF("id", "s"))
    VersionedTable.commit(spark, root,
      Seq((9L, "bad")).toDF("id", "s"), overwrite = true)
    val v3 = VersionedTable.rollback(spark, root, 1L)
    assert(v3 == 3L)
    assert(VersionedTable.read(spark, root)
      .select("id").head().getLong(0) == 1L)
    // the rolled-back version stays time-travelable
    assert(VersionedTable.read(spark, root, Some(2L))
      .select("id").head().getLong(0) == 9L)
  }

  test("torn manifest is invisible; next writer skips its number") {
    val root = tmpDir("vtabtorn")
    VersionedTable.commit(spark, root, Seq((1L, "a")).toDF("id", "s"))
    // simulate a writer that died mid-manifest: v2 exists without #END
    val torn = new java.io.File(s"$root/_vlog/v00002.manifest")
    java.nio.file.Files.writeString(torn.toPath, "data/deadbeef\n")
    assert(VersionedTable.versions(spark, root) == Seq(1L))
    assert(VersionedTable.read(spark, root)
      .select("id").head().getLong(0) == 1L)
    val v = VersionedTable.commit(spark, root,
      Seq((2L, "b")).toDF("id", "s"))
    assert(v == 3L, "torn v2's number must be skipped, not reused")
    assert(VersionedTable.read(spark, root)
      .select("id").collect().map(_.getLong(0)).toSet == Set(1L, 2L))
  }

  test("vacuum drops manifests past retention and orphaned data dirs") {
    val root = tmpDir("vtabvac")
    VersionedTable.commit(spark, root, Seq((1L, "a")).toDF("id", "s"))
    VersionedTable.commit(spark, root,
      Seq((2L, "b")).toDF("id", "s"), overwrite = true)
    VersionedTable.commit(spark, root,
      Seq((3L, "c")).toDF("id", "s"), overwrite = true)
    val dataDirs = new java.io.File(s"$root/data").listFiles()
    assert(dataDirs.length == 3)
    val deleted = VersionedTable.vacuum(spark, root, keepVersions = 2)
    // v1 dropped; its data dir (referenced by nothing retained) removed
    assert(deleted == 1)
    assert(VersionedTable.versions(spark, root) == Seq(2L, 3L))
    assert(new java.io.File(s"$root/data").listFiles().length == 2)
    // retained versions still read correctly
    assert(VersionedTable.read(spark, root, Some(2L))
      .select("id").head().getLong(0) == 2L)
    assert(VersionedTable.read(spark, root)
      .select("id").head().getLong(0) == 3L)
  }

  test("keyed commit is idempotent; crash orphan dirs are rewritten") {
    val root = tmpDir("vtabkey")
    val v1 = VersionedTable.commit(spark, root,
      Seq((1L, "a")).toDF("id", "s"), idempotencyKey = Some("batch-0"))
    // re-delivery of the same logical commit: no new version, same id
    val v1b = VersionedTable.commit(spark, root,
      Seq((1L, "a")).toDF("id", "s"), idempotencyKey = Some("batch-0"))
    assert(v1 == v1b && VersionedTable.versions(spark, root) == Seq(1L))
    // crash orphan: data dir written, manifest never landed — the retry
    // must rewrite it and commit
    Seq((7L, "x")).toDF("id", "s").write
      .parquet(s"$root/data/k-batch-1")
    val v2 = VersionedTable.commit(spark, root,
      Seq((2L, "b")).toDF("id", "s"), idempotencyKey = Some("batch-1"))
    assert(v2 == 2L)
    assert(VersionedTable.read(spark, root)
      .select("id").collect().map(_.getLong(0)).toSet == Set(1L, 2L),
      "orphan content must not leak into the committed snapshot")
  }

  test("streaming micro-batches commit as table versions, exactly-once") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = tmpDir("vtabstream")
    val mem = MemoryStream[Long]
    val q = graft.streaming.StreamOps.versionedTableSink(
      mem.toDF.withColumnRenamed("value", "id"),
      root, tmpDir("vtabstreamck"), intervalMs = 50)
    try {
      mem.addData(1L, 2L)
      q.processAllAvailable()
      mem.addData(3L)
      q.processAllAvailable()
      val vs = VersionedTable.versions(spark, root)
      assert(vs.nonEmpty && vs.size <= 2, s"versions: $vs")
      assert(VersionedTable.read(spark, root)
        .collect().map(_.getLong(0)).toSet == Set(1L, 2L, 3L))
      // re-delivering a committed batch id is a no-op
      val before = VersionedTable.versions(spark, root)
      graft.operators.VersionedTable.commit(spark, root,
        Seq(99L).toDF("id"), idempotencyKey = Some("batch-0"))
      assert(VersionedTable.versions(spark, root) == before)
      assert(!VersionedTable.read(spark, root)
        .collect().map(_.getLong(0)).contains(99L))
    } finally q.stop()
  }

  test("CHECK constraints gate the streaming sink: a violating " +
      "micro-batch fails the query, no version published") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = tmpDir("vtabstreamck2")
    VersionedTable.commit(spark, root, Seq(1L).toDF("id"))
    VersionedTable.addConstraint(spark, root, "id_pos", "id > 0")
    val mem = MemoryStream[Long]
    val q = graft.streaming.StreamOps.versionedTableSink(
      mem.toDF.withColumnRenamed("value", "id"),
      root, tmpDir("vtabstreamck2ck"), intervalMs = 50)
    try {
      mem.addData(2L, 3L)
      q.processAllAvailable() // valid batch commits
      val good = VersionedTable.versions(spark, root)
      mem.addData(-7L)
      val ex = intercept[Exception](q.processAllAvailable())
      assert(String.valueOf(ex.getMessage).contains("id_pos") ||
        Option(ex.getCause).exists(c =>
          String.valueOf(c.getMessage).contains("id_pos")),
        s"stream must fail with the constraint error: $ex")
      assert(VersionedTable.versions(spark, root) == good,
        "a violating micro-batch must not publish a version")
      assert(VersionedTable.read(spark, root)
        .collect().map(_.getLong(0)).toSet == Set(1L, 2L, 3L))
    } finally q.stop()
  }

  test("merge: upsert + matched-delete, copy-on-write at dir granularity") {
    val root = tmpDir("vtabmerge")
    // v1 and v2 land in separate data dirs; the merge's keys all live
    // in v1's dir, so v2's dir must survive UNREWRITTEN
    VersionedTable.commit(spark, root,
      Seq((1L, "a", 10), (2L, "b", 20)).toDF("id", "s", "n"))
    VersionedTable.commit(spark, root,
      Seq((3L, "c", 30), (4L, "d", 40)).toDF("id", "s", "n"))
    val dirsBefore = new java.io.File(s"$root/data").listFiles()
      .map(_.getName).toSet
    val source = Seq(
      (1L, "a2", 11),   // matched -> update
      (2L, "kill", -1), // matched + delete condition -> delete
      (9L, "new", 90))  // unmatched -> insert
      .toDF("id", "s", "n")
    val v = VersionedTable.merge(spark, root, source, Seq("id"),
      deleteMatched = Some(col("s") === "kill"))
    assert(v == 3L)
    val got = VersionedTable.read(spark, root)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
      .toSet
    assert(got == Set((1L, "a2", 11), (3L, "c", 30), (4L, "d", 40),
      (9L, "new", 90)))
    // dir-granularity CoW: v2's untouched dir is still referenced; only
    // one new dir was written
    val dirsAfter = new java.io.File(s"$root/data").listFiles()
      .map(_.getName).toSet
    assert((dirsAfter -- dirsBefore).size == 1,
      "merge must add exactly one rewritten dir")
    // pre-merge snapshot still time-travelable
    assert(VersionedTable.read(spark, root, Some(2L)).count() == 4)
  }

  test("merge on an empty table inserts everything") {
    val root = tmpDir("vtabmerge0")
    val v = VersionedTable.merge(spark, root,
      Seq((1L, "a")).toDF("id", "s"), Seq("id"),
      deleteMatched = Some(lit(true)))
    assert(v == 1L)
    assert(VersionedTable.read(spark, root).count() == 1)
  }

  test("merge conflict: stale base version is refused, not lost-updated") {
    val root = tmpDir("vtabmergecc")
    VersionedTable.commit(spark, root, Seq((1L, "a")).toDF("id", "s"))
    VersionedTable.commit(spark, root, Seq((2L, "b")).toDF("id", "s"))
    // a merge planned at v1 while the table is already at v2 must throw
    // rather than install over the concurrent commit
    intercept[java.util.ConcurrentModificationException] {
      VersionedTable.mergeFrom(spark, root, 1L,
        Seq((1L, "a2")).toDF("id", "s"), Seq("id"), None)
    }
    // table content undisturbed by the refused merge
    assert(VersionedTable.read(spark, root)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet ==
      Set((1L, "a"), (2L, "b")))
    // rerun on the current snapshot succeeds
    val v = VersionedTable.merge(spark, root,
      Seq((1L, "a2")).toDF("id", "s"), Seq("id"))
    assert(v == 3L)
    assert(VersionedTable.read(spark, root)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet ==
      Set((1L, "a2"), (2L, "b")))
  }

  test("deleteWhere / updateWhere: predicate CoW touches only hit dirs") {
    val root = tmpDir("vtabdml")
    VersionedTable.commit(spark, root,
      Seq((1L, 10), (2L, 20)).toDF("id", "n"))
    VersionedTable.commit(spark, root,
      Seq((3L, 30), (4L, 40)).toDF("id", "n"))
    val dirsBefore = new java.io.File(s"$root/data").listFiles()
      .map(_.getName).toSet

    // delete hits only the first dir; second dir must not be rewritten
    val v3 = VersionedTable.deleteWhere(spark, root, col("id") === 1L)
    assert(v3 == 3L)
    assert(VersionedTable.read(spark, root)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet ==
      Set((2L, 20), (3L, 30), (4L, 40)))
    val afterDelete = new java.io.File(s"$root/data").listFiles()
      .map(_.getName).toSet
    assert((afterDelete -- dirsBefore).size == 1)

    // update may reference existing columns; non-matching rows intact
    val v4 = VersionedTable.updateWhere(spark, root,
      col("id") === 3L, Map("n" -> (col("n") + 5)))
    assert(v4 == 4L)
    assert(VersionedTable.read(spark, root)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet ==
      Set((2L, 20), (3L, 35), (4L, 40)))

    // no-match predicate: no-op, no new version, no new dir
    val nDirs = new java.io.File(s"$root/data").listFiles().length
    assert(VersionedTable.deleteWhere(spark, root, col("id") === 99L) == v4)
    assert(VersionedTable.updateWhere(spark, root, col("id") === 99L,
      Map("n" -> lit(0))) == v4)
    assert(new java.io.File(s"$root/data").listFiles().length == nDirs)
    // history: pre-delete snapshot still readable
    assert(VersionedTable.read(spark, root, Some(2L)).count() == 4)
  }

  test("changesBetween reads only the dir diff and is exact CDC") {
    val root = tmpDir("vtabcdc")
    VersionedTable.commit(spark, root,
      Seq((1L, "a"), (2L, "b")).toDF("id", "s"))   // v1
    VersionedTable.commit(spark, root,
      Seq((3L, "c")).toDF("id", "s"))              // v2 append
    VersionedTable.merge(spark, root,
      Seq((1L, "a2")).toDF("id", "s"), Seq("id"))  // v3 update id=1
    def changes(a: Long, b: Long) =
      VersionedTable.changesBetween(spark, root, a, b)
        .collect().map(r => (r.getString(2), r.getLong(0), r.getString(1)))
        .toSet
    assert(changes(1L, 2L) == Set(("insert", 3L, "c")))
    // the update is a delete+insert pair; untouched rows (2, 3) absent
    assert(changes(2L, 3L) ==
      Set(("delete", 1L, "a"), ("insert", 1L, "a2")))
    assert(changes(1L, 3L) == Set(("insert", 3L, "c"),
      ("delete", 1L, "a"), ("insert", 1L, "a2")))
    // identical versions -> empty
    assert(VersionedTable.changesBetween(spark, root, 2L, 2L).count() == 0)
  }

  test("changesBetween keeps user columns named like its working columns") {
    val root = tmpDir("vtabcdcnames")
    VersionedTable.commit(spark, root,
      Seq((1L, 5L), (2L, 7L)).toDF("id", "__sign"))            // v1
    VersionedTable.merge(spark, root,
      Seq((1L, 6L), (3L, 9L)).toDF("id", "__sign"), Seq("id"))  // v2
    val got = VersionedTable.changesBetween(spark, root, 1L, 2L)
      .collect().map(r => (r.getString(2), r.getLong(0), r.getLong(1)))
      .toSeq
    // exactly three rows: the untouched id 2 is no delete+insert pair
    // and every __sign value is the user's
    assert(got.sorted == Seq(("delete", 1L, 5L), ("insert", 1L, 6L),
      ("insert", 3L, 9L)), got)
  }

  test("changesBetween refuses a table column named change, any case") {
    Seq("change", "CHANGE").foreach { name =>
      val root = tmpDir("vtabcdcchange")
      VersionedTable.commit(spark, root, Seq((1L, "x")).toDF("id", name))
      VersionedTable.commit(spark, root, Seq((2L, "y")).toDF("id", name))
      val ex = intercept[IllegalArgumentException] {
        VersionedTable.changesBetween(spark, root, 1L, 2L)
      }
      assert(ex.getMessage.contains(s"`$name`"), ex.getMessage)
    }
  }

  test("compact folds the snapshot into one dir, content-preserving") {
    val root = tmpDir("vtabcompact")
    (1 to 4).foreach(i => VersionedTable.commit(spark, root,
      Seq((i.toLong, s"s$i")).toDF("id", "s")))
    val before = VersionedTable.read(spark, root)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val v = VersionedTable.compact(spark, root, nFiles = 1)
    assert(v == 5L)
    val manifest = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$root/_vlog/v00005.manifest"))
    assert(manifest.linesIterator.count(_.startsWith("data/")) == 1)
    assert(VersionedTable.read(spark, root)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet == before)
    // already-compact table: no-op, no new version
    assert(VersionedTable.compact(spark, root) == 5L)
    // old versions survive until vacuum
    assert(VersionedTable.read(spark, root, Some(2L)).count() == 2)
  }

  test("keyed merge is idempotent under re-delivery") {
    val root = tmpDir("vtabmergekey")
    VersionedTable.commit(spark, root,
      Seq((1L, "a"), (2L, "b")).toDF("id", "s"))
    val src = Seq((1L, "a2"), (3L, "c")).toDF("id", "s")
    val v = VersionedTable.merge(spark, root, src, Seq("id"),
      idempotencyKey = Some("up-0"))
    assert(v == 2L)
    // re-offered merge: same version back, no new commit, content same
    val v2 = VersionedTable.merge(spark, root, src, Seq("id"),
      idempotencyKey = Some("up-0"))
    assert(v2 == v)
    assert(VersionedTable.versions(spark, root) == Seq(1L, 2L))
    assert(VersionedTable.read(spark, root)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet ==
      Set((1L, "a2"), (2L, "b"), (3L, "c")))
  }

  test("optimizeZOrder clusters a 2-D box into few files, same content") {
    val root = tmpDir("vtabzopt")
    val pts = for (x <- 0 until 48; y <- 0 until 48)
      yield (x.toLong, y.toLong)
    // three shuffled commits — arrival order uncorrelated with (x, y)
    scala.util.Random.shuffle(pts).grouped(pts.size / 3 + 1)
      .foreach(g => VersionedTable.commit(spark, root,
        g.toDF("x", "y").repartition(4)))
    val before = VersionedTable.read(spark, root)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val v = VersionedTable.optimizeZOrder(spark, root, Seq("x", "y"),
      nFiles = 8)
    val snap = VersionedTable.read(spark, root)
    assert(snap.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet == before)
    def filesOf(df: org.apache.spark.sql.DataFrame) = df
      .select(input_file_name()).distinct().count()
    assert(filesOf(snap) == 8L)
    // a z-corner box now lives in very few files; pre-optimize it was
    // smeared over every file of every commit
    val box = snap.filter(col("x") < 6 && col("y") < 6)
    assert(filesOf(box) <= 2L,
      s"box rows smeared over ${filesOf(box)} files after z-order")
    // old (unclustered) snapshot still time-travelable
    assert(VersionedTable.read(spark, root, Some(v - 1)).count() ==
      before.size)
  }

  test("versionedUpsertSink: streaming merge maintains a keyed table") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = tmpDir("vtabupsink")
    val mem = MemoryStream[(Long, String)]
    val q = graft.streaming.StreamOps.versionedUpsertSink(
      mem.toDF.toDF("id", "s"), root, Seq("id"),
      tmpDir("vtabupsinkck"), intervalMs = 50)
    try {
      mem.addData((1L, "a"), (2L, "b"))
      q.processAllAvailable()
      mem.addData((2L, "b2"), (3L, "c"))
      q.processAllAvailable()
      assert(VersionedTable.read(spark, root)
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet ==
        Set((1L, "a"), (2L, "b2"), (3L, "c")),
        "second batch must replace key 2, insert key 3")
      // re-delivering a committed batch id is a no-op
      val before = VersionedTable.versions(spark, root)
      VersionedTable.merge(spark, root,
        Seq((9L, "x")).toDF("id", "s"), Seq("id"),
        idempotencyKey = Some("up-0"))
      assert(VersionedTable.versions(spark, root) == before)
    } finally q.stop()
  }

  test("stats sidecars prune disjoint-key dirs before any scan") {
    val root = tmpDir("vtabstats")
    // three dirs with disjoint id ranges
    VersionedTable.commit(spark, root,
      (1L to 100L).map(i => (i, s"a$i")).toDF("id", "s"))
    VersionedTable.commit(spark, root,
      (1000L to 1100L).map(i => (i, s"b$i")).toDF("id", "s"))
    VersionedTable.commit(spark, root,
      (5000L to 5100L).map(i => (i, s"c$i")).toDF("id", "s"))
    // every dir has a stats sidecar
    val dataDirs = new java.io.File(s"$root/data").listFiles()
    assert(dataDirs.forall(d =>
      new java.io.File(d, "_stats.json").exists()))
    // source keys hit only the middle dir's range
    val src = Seq((1050L, "upd")).toDF("id", "s")
    val manifest = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$root/_vlog/v00003.manifest"))
    val dirList = manifest.linesIterator
      .filter(_.startsWith("data/")).toSeq
    val cand = VersionedTable.pruneDirsByKeyRange(spark, root,
      dirList, src, Seq("id"))
    assert(cand.size == 1, s"expected 1 candidate dir, got $cand")
    // overlapping range: kept
    val cand2 = VersionedTable.pruneDirsByKeyRange(spark, root,
      dirList, Seq((50L, "x"), (1001L, "y")).toDF("id", "s"), Seq("id"))
    assert(cand2.size == 2)
    // a dir without a sidecar can never be pruned: strip the sidecar
    // from one of the dirs the stats WOULD have pruned
    val prunedDir = dirList.filterNot(cand.toSet).head
    new java.io.File(s"$root/$prunedDir/_stats.json").delete()
    val cand3 = VersionedTable.pruneDirsByKeyRange(spark, root,
      dirList, src, Seq("id"))
    assert(cand3.toSet == cand.toSet + prunedDir,
      "statless dir must stay a candidate")
    // merge end-to-end stays correct with pruning active
    val v = VersionedTable.merge(spark, root, src, Seq("id"))
    assert(VersionedTable.read(spark, root)
      .filter(col("id") === 1050L).head().getString(1) == "upd")
    assert(VersionedTable.read(spark, root).count() == 302)
    // string-key pruning: disjoint string ranges prune too
    val sroot = tmpDir("vtabstats2")
    VersionedTable.commit(spark, sroot,
      Seq(("apple", 1), ("banana", 2)).toDF("k", "n"))
    VersionedTable.commit(spark, sroot,
      Seq(("melon", 3), ("peach", 4)).toDF("k", "n"))
    val sm = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$sroot/_vlog/v00002.manifest"))
      .linesIterator.filter(_.startsWith("data/")).toSeq
    assert(VersionedTable.pruneDirsByKeyRange(spark, sroot, sm,
      Seq(("zebra", 9)).toDF("k", "n"), Seq("k")).isEmpty)
    // "carrot" falls BETWEEN the two ranges: no dir can hold it
    assert(VersionedTable.pruneDirsByKeyRange(spark, sroot, sm,
      Seq(("carrot", 9)).toDF("k", "n"), Seq("k")).isEmpty)
    // "nectarine" is inside [melon, peach]: exactly that dir survives
    assert(VersionedTable.pruneDirsByKeyRange(spark, sroot, sm,
      Seq(("nectarine", 9)).toDF("k", "n"), Seq("k")).size == 1)
  }

  test("concurrent merges: serializable — every outcome equals some " +
      "sequential order, losers throw rather than lose updates") {
    val root = tmpDir("vtabmergerace")
    VersionedTable.commit(spark, root,
      Seq((1L, 0L), (2L, 0L)).toDF("id", "n"))
    // two merges race on DIFFERENT keys; each retries on conflict like
    // a real writer. After both land, BOTH updates must be present —
    // a lost update would leave one key at 0.
    def upsertWithRetry(key: Long, value: Long): Unit = {
      var done = false
      while (!done) {
        try {
          VersionedTable.merge(spark, root,
            Seq((key, value)).toDF("id", "n"), Seq("id"))
          done = true
        } catch {
          case _: java.util.ConcurrentModificationException => // retry
        }
      }
    }
    val t1 = new Thread(() => upsertWithRetry(1L, 11L))
    val t2 = new Thread(() => upsertWithRetry(2L, 22L))
    t1.start(); t2.start(); t1.join(); t2.join()
    assert(VersionedTable.read(spark, root)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((1L, 11L), (2L, 22L)),
      "both racing merges must be applied (no lost update)")
  }

  test("processNewVersions: resumable CDC tailer, at-least-once") {
    val root = tmpDir("vtabtail")
    val cursor = s"${tmpDir("vtabtailck")}/cursor"
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    def consume(): Long = VersionedTable.processNewVersions(
      spark, root, cursor) { (changes, v) =>
        val ins = changes.filter(col("change") === "insert").count()
        val del = changes.filter(col("change") === "delete").count()
        seen += ((v, ins, del))
      }
    // empty table: no-op, cursor untouched
    assert(consume() == 0L && seen.isEmpty)
    VersionedTable.commit(spark, root,
      Seq((1L, "a"), (2L, "b")).toDF("id", "s"))
    VersionedTable.commit(spark, root, Seq((3L, "c")).toDF("id", "s"))
    // first consume: whole snapshot arrives as inserts, cursor -> v2
    assert(consume() == 2L)
    assert(seen.last == ((2L, 3L, 0L)))
    // nothing new: f not invoked again
    val n = seen.size
    assert(consume() == 2L && seen.size == n)
    // merge (update id=1) then consume: exactly the delta arrives
    VersionedTable.merge(spark, root,
      Seq((1L, "a2")).toDF("id", "s"), Seq("id"))
    assert(consume() == 3L)
    assert(seen.last == ((3L, 1L, 1L)), s"got ${seen.last}")
    // crash between f and cursor write: re-delivery of the same span
    VersionedTable.commit(spark, root, Seq((9L, "z")).toDF("id", "s"))
    val e = intercept[RuntimeException] {
      VersionedTable.processNewVersions(spark, root, cursor) { (_, _) =>
        throw new RuntimeException("consumer died")
      }
    }
    assert(e.getMessage == "consumer died")
    assert(consume() == 4L, "cursor must not have advanced past the crash")
    assert(seen.last._1 == 4L && seen.last._2 == 1L)
  }

  test("schema evolution: additive commit under mergeSchema null-fills " +
      "older dirs; silent drift, drops, and retypes are rejected loudly") {
    val root = tmpDir("vtabschema")
    VersionedTable.commit(spark, root, Seq((1L, "a")).toDF("id", "s"))
    // silent widening without the flag: rejected, table untouched
    val exAdd = intercept[IllegalArgumentException] {
      VersionedTable.commit(spark, root,
        Seq((2L, "b", 9L)).toDF("id", "s", "w"))
    }
    assert(exAdd.getMessage.contains("mergeSchema"), exAdd.getMessage)
    // dropped column / retyped column: always rejected
    val exDrop = intercept[IllegalArgumentException] {
      VersionedTable.commit(spark, root, Seq(Tuple1(3L)).toDF("id"),
        mergeSchema = true)
    }
    assert(exDrop.getMessage.contains("missing"), exDrop.getMessage)
    val exType = intercept[IllegalArgumentException] {
      VersionedTable.commit(spark, root,
        Seq((4L, 5L)).toDF("id", "s"), mergeSchema = true)
    }
    assert(exType.getMessage.contains("retyped"), exType.getMessage)
    // the additive evolution: new column lands; older rows read NULL
    val v2 = VersionedTable.commit(spark, root,
      Seq((2L, "b", 9L)).toDF("id", "s", "w"), mergeSchema = true)
    val latest = VersionedTable.read(spark, root)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2))))
    assert(latest.toSeq == Seq((1L, "a", None), (2L, "b", Some(9L))))
    // time travel to the pre-evolution snapshot keeps the narrow schema
    assert(VersionedTable.read(spark, root, Some(v2 - 1))
      .columns.toSeq == Seq("id", "s"))
    // column ORDER differences alone are not drift
    VersionedTable.commit(spark, root,
      Seq(("c", 3L, 7L)).toDF("s", "id", "w"))
    assert(VersionedTable.read(spark, root).count() == 3)
    // the REWRITE paths carry the evolved schema across the boundary:
    // an update touching only a pre-evolution dir, then a compaction
    // folding every dir into one, must both preserve w's data (a
    // first-footer-schema read here would erase w table-wide)
    VersionedTable.updateWhere(spark, root, col("id") === 1L,
      Map("s" -> lit("a2")))
    VersionedTable.compact(spark, root)
    val after = VersionedTable.read(spark, root).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2)))
    assert(after.toSeq == Seq((1L, "a2", -1L), (2L, "b", 9L), (3L, "c", 7L)),
      s"evolved column lost through rewrite/compact: ${after.toSeq}")
    // CDC across the evolution boundary reads one unified column set
    val cdc = VersionedTable.changesBetween(spark, root, v2, v2 + 1)
    assert(cdc.columns.contains("w") && cdc.count() >= 1)
    // merge across the boundary: the touched rewrite keeps w for rows
    // the source never mentioned
    VersionedTable.merge(spark, root,
      Seq((1L, "a3", -5L)).toDF("id", "s", "w"), Seq("id"))
    val merged = VersionedTable.read(spark, root).orderBy("id").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(2)) -1L else r.getLong(2)))
    assert(merged.toSeq == Seq((1L, -5L), (2L, 9L), (3L, 7L)),
      s"merge dropped evolved data: ${merged.toSeq}")
    // a NARROW source (predating the evolution) still merges: missing
    // columns null-fill (a merge replaces matched rows wholesale), and
    // a pure insert commits instead of throwing unresolved-column
    VersionedTable.merge(spark, root,
      Seq((9L, "ins"), (3L, "c2")).toDF("id", "s"), Seq("id"))
    val narrow = VersionedTable.read(spark, root).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2)))
    assert(narrow.toSeq == Seq((1L, "a3", -5L), (2L, "b", 9L),
      (3L, "c2", -1L), (9L, "ins", -1L)), s"narrow merge: ${narrow.toSeq}")
    // extra source columns are rejected loudly, never silently dropped
    val exExtra = intercept[IllegalArgumentException] {
      VersionedTable.merge(spark, root,
        Seq((9L, "x", 1L, 2L)).toDF("id", "s", "w", "zz"), Seq("id"))
    }
    assert(exExtra.getMessage.contains("zz"), exExtra.getMessage)
    // rollback can NARROW a later version; CDC across that boundary
    // must keep the evolved column's data on the delete rows
    val wideV = VersionedTable.versions(spark, root).last
    val narrowV = VersionedTable.rollback(spark, root, v2 - 1)
    val cdcBack = VersionedTable.changesBetween(spark, root, wideV, narrowV)
    assert(cdcBack.columns.contains("w"), cdcBack.columns.mkString(","))
    val deletedW = cdcBack.filter(col("change") === "delete" &&
      col("id") === 1L).collect().map(_.getAs[Any]("w"))
    assert(deletedW.contains(-5L),
      s"rollback-narrowing CDC lost evolved data: ${deletedW.toSeq}")
  }

  test("concurrent appenders both land; no lost update") {
    val root = tmpDir("vtabcc")
    VersionedTable.commit(spark, root, Seq((0L, "z")).toDF("id", "s"))
    // two appends racing: whatever the interleaving, the final snapshot
    // must contain both (the CAS loop rebases losers)
    val t1 = new Thread(() => VersionedTable.commit(spark, root,
      Seq((1L, "a")).toDF("id", "s")))
    val t2 = new Thread(() => VersionedTable.commit(spark, root,
      Seq((2L, "b")).toDF("id", "s")))
    t1.start(); t2.start(); t1.join(); t2.join()
    assert(VersionedTable.read(spark, root)
      .select("id").collect().map(_.getLong(0)).toSet ==
      Set(0L, 1L, 2L))
  }

  test("CHECK constraint: violating writes rejected on every path") {
    val root = tmpDir("vtabck")
    VersionedTable.commit(spark, root,
      Seq((1L, 10L), (2L, 20L)).toDF("id", "qty"))
    val vAdd = VersionedTable.addConstraint(spark, root,
      "qty_pos", "qty > 0")
    assert(VersionedTable.constraintsOf(spark, root) ==
      Seq("qty_pos" -> "qty > 0"))
    // violating append: rejected, no version published, dir cleaned
    val before = VersionedTable.versions(spark, root)
    val ex = intercept[IllegalArgumentException] {
      VersionedTable.commit(spark, root, Seq((3L, -5L)).toDF("id", "qty"))
    }
    assert(ex.getMessage.contains("qty_pos"))
    assert(VersionedTable.versions(spark, root) == before,
      "a rejected commit must not publish a version")
    val orphanDirs = new java.io.File(s"$root/data").listFiles()
      .count(_.isDirectory)
    assert(orphanDirs == 1, "the rejected dir must be deleted")
    // NULL passes (SQL CHECK semantics); valid rows pass
    VersionedTable.commit(spark, root,
      Seq((3L, Some(5L)), (4L, None)).toDF("id", "qty"))
    // merge upserting a violation: rejected
    intercept[IllegalArgumentException] {
      VersionedTable.merge(spark, root,
        Seq((1L, -1L)).toDF("id", "qty"), keys = Seq("id"))
    }
    // UPDATE setting a violation: rejected
    intercept[IllegalArgumentException] {
      VersionedTable.updateWhere(spark, root, col("id") === 1L,
        Map("qty" -> lit(-9L)))
    }
    // DELETE cannot violate; constraint survives it and compaction
    VersionedTable.deleteWhere(spark, root, col("id") === 2L)
    VersionedTable.compact(spark, root)
    assert(VersionedTable.constraintsOf(spark, root) ==
      Seq("qty_pos" -> "qty > 0"))
    // drop: the same violating append now lands
    VersionedTable.dropConstraint(spark, root, "qty_pos")
    VersionedTable.commit(spark, root, Seq((9L, -5L)).toDF("id", "qty"))
    assert(VersionedTable.read(spark, root)
      .filter(col("qty") < 0).count() == 1L)
    // rollback restores the RESTORED version's constraint set
    VersionedTable.rollback(spark, root, vAdd)
    assert(VersionedTable.constraintsOf(spark, root) ==
      Seq("qty_pos" -> "qty > 0"))
  }

  test("addConstraint validates existing data and rejects dirty tables") {
    val root = tmpDir("vtabckd")
    VersionedTable.commit(spark, root,
      Seq((1L, 10L), (2L, -1L)).toDF("id", "qty"))
    val before = VersionedTable.versions(spark, root)
    val ex = intercept[IllegalArgumentException] {
      VersionedTable.addConstraint(spark, root, "qty_pos", "qty > 0")
    }
    assert(ex.getMessage.contains("existing rows"))
    assert(VersionedTable.versions(spark, root) == before)
    assert(VersionedTable.constraintsOf(spark, root).isEmpty)
    // duplicate add / missing drop are loud
    VersionedTable.addConstraint(spark, root, "id_pos", "id > 0")
    intercept[IllegalArgumentException] {
      VersionedTable.addConstraint(spark, root, "id_pos", "id > 0")
    }
    intercept[IllegalArgumentException] {
      VersionedTable.dropConstraint(spark, root, "nope")
    }
    // a constraint on a table with NO committed version is refused (a
    // zero-dir manifest would poison the next commit's schema gate)
    intercept[IllegalArgumentException] {
      VersionedTable.addConstraint(spark, tmpDir("vtabck0"),
        "v_pos", "v >= 0")
    }
  }

  test("describeHistory + TIMESTAMP AS OF resolve commit provenance") {
    val root = tmpDir("vtabhist")
    val before = System.currentTimeMillis() - 1
    VersionedTable.commit(spark, root, Seq((1L, "a")).toDF("id", "s"))
    Thread.sleep(15)
    val betweenV1V2 = System.currentTimeMillis()
    Thread.sleep(15)
    VersionedTable.commit(spark, root, Seq((2L, "b")).toDF("id", "s"))
    VersionedTable.deleteWhere(spark, root, col("id") === 1L)
    // Delta's DESCRIBE HISTORY order: newest FIRST — code that takes
    // the first row gets the latest commit
    val histRaw = VersionedTable.describeHistory(spark, root).collect()
    assert(histRaw.map(_.getLong(0)).toSeq == Seq(3L, 2L, 1L))
    // every row carries a timestamp (mtime fallback covers manifests
    // predating #OP), and effective times are monotone in version
    assert(histRaw.forall(_.getTimestamp(1) != null))
    val hist = VersionedTable.describeHistory(spark, root)
      .orderBy("version").collect()
    assert(hist.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    assert(hist.map(_.getString(2)).toSeq ==
      Seq("append", "append", "delete"))
    val times = hist.map(_.getTimestamp(1).getTime)
    assert(times.sorted.sameElements(times), "commit times nondecreasing")
    assert(times.forall(_ >= before))
    // TIMESTAMP AS OF: between v1 and v2 resolves to v1; before
    // everything resolves to nothing; now resolves to latest
    assert(VersionedTable.versionAsOf(spark, root, betweenV1V2)
      .contains(1L))
    assert(VersionedTable.versionAsOf(spark, root, before - 10).isEmpty)
    assert(VersionedTable.versionAsOf(spark, root,
      System.currentTimeMillis()).contains(3L))
    assert(VersionedTable.readAsOfTimestamp(spark, root, betweenV1V2)
      .select("id").head().getLong(0) == 1L)
    intercept[IllegalArgumentException] {
      VersionedTable.readAsOfTimestamp(spark, root, before - 10)
    }
  }

  test("TIMESTAMP AS OF under writer clock regression: effective times " +
      "are monotonized, pre-provenance manifests reachable via mtime") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val root = tmpDir("vtabclock")
    VersionedTable.commit(spark, root, Seq((1L, "a")).toDF("id", "s"))
    Thread.sleep(15)
    VersionedTable.commit(spark, root, Seq((2L, "b")).toDF("id", "s"))
    VersionedTable.commit(spark, root, Seq((3L, "c")).toDF("id", "s"))
    def manifest(v: Long) = Paths.get(root, "_vlog", f"v$v%05d.manifest")
    def lines(v: Long) = Files.readAllLines(manifest(v)).asScala.toSeq
    def opEpoch(v: Long): Long = lines(v).find(_.startsWith("#OP:"))
      .map(_.split(":").last.toLong).get
    val t1 = opEpoch(1)
    // simulate a second writer with a regressed clock: rewrite v2's
    // recorded commit time to BEFORE v1's (raw bytes a skewed-clock
    // writer would genuinely produce; manifests stay structurally valid)
    val regressed = lines(2).map(l =>
      if (l.startsWith("#OP:")) {
        val cut = l.lastIndexOf(':')
        l.take(cut + 1) + (t1 - 60000L)
      } else l)
    Files.write(manifest(2), regressed.asJava)
    // ...and simulate a pre-provenance manifest: v3 loses its #OP line
    Files.write(manifest(3),
      lines(3).filterNot(_.startsWith("#OP:")).asJava)
    // resolution at exactly t1 must follow VERSION order, not the
    // regressed raw time: v2's effective time clamps up to t1, and the
    // newest version at-or-before t1 is v2 (not v1)
    assert(VersionedTable.versionAsOf(spark, root, t1).contains(2L))
    assert(VersionedTable.versionAsOf(spark, root, t1 - 1).isEmpty,
      "clamped v2 must not resolve BEFORE v1's commit time")
    // v3 (no #OP) stays reachable via its manifest mtime fallback
    assert(VersionedTable.versionAsOf(spark, root,
      System.currentTimeMillis() + 60000).contains(3L))
    // describeHistory: newest first, timestamps non-null and monotone
    // non-decreasing in version order even with the regressed raw time
    val hist = VersionedTable.describeHistory(spark, root).collect()
    assert(hist.map(_.getLong(0)).toSeq == Seq(3L, 2L, 1L))
    val byVersion = hist.sortBy(_.getLong(0)).map(_.getTimestamp(1).getTime)
    assert(byVersion.sorted.sameElements(byVersion),
      s"effective history times must be monotone: ${byVersion.toSeq}")
  }

  test("TIMESTAMP AS OF after relocation: a refreshed pre-provenance " +
      "mtime is bounded by the next recorded #OP epoch") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val root = tmpDir("vtabreloc")
    VersionedTable.commit(spark, root, Seq((1L, "a")).toDF("id", "s"))
    Thread.sleep(15)
    VersionedTable.commit(spark, root, Seq((2L, "b")).toDF("id", "s"))
    Thread.sleep(15)
    VersionedTable.commit(spark, root, Seq((3L, "c")).toDF("id", "s"))
    def manifest(v: Long) = Paths.get(root, "_vlog", f"v$v%05d.manifest")
    def opEpoch(v: Long): Long = Files.readAllLines(manifest(v)).asScala
      .find(_.startsWith("#OP:")).map(_.split(":").last.toLong).get
    val (t2, t3) = (opEpoch(2), opEpoch(3))
    // simulate copy/rsync/restore: v1 predates provenance (no #OP) and
    // its manifest mtime becomes "now" — far newer than v2/v3's
    // recorded commit epochs
    Files.write(manifest(1), Files.readAllLines(manifest(1)).asScala
      .filterNot(_.startsWith("#OP:")).asJava)
    Files.setLastModifiedTime(manifest(1),
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() + 3600000L))
    // v2/v3 must still resolve on their OWN recorded epochs: the
    // refreshed v1 mtime is capped at v2's epoch instead of clamping
    // the whole timeline up to "now"
    assert(VersionedTable.versionAsOf(spark, root, t2).contains(2L))
    assert(VersionedTable.versionAsOf(spark, root, t3 - 1).contains(2L))
    assert(VersionedTable.versionAsOf(spark, root, t3).contains(3L))
    assert(VersionedTable.readAsOfTimestamp(spark, root, t2)
      .collect().map(_.getLong(0)).toSet == Set(1L, 2L))
  }

  test("race law: concurrent writer + vacuum + time-travel reads + " +
      "CDC tail — correct data or a clean retention error, never " +
      "silent partials") {
    import java.util.concurrent.{ConcurrentLinkedQueue, Executors, TimeUnit}
    import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}
    val root = tmpDir("vtabracelaw")
    val cursor = s"$root/_cdc/cursor"
    val totalVersions = 14
    val keep = 4
    VersionedTable.commit(spark, root, Seq((1L, 1L)).toDF("id", "v"))
    val committed = new AtomicLong(1L)
    val writerDone = new AtomicBoolean(false)
    val violations = new ConcurrentLinkedQueue[String]()
    val cdcSeen =
      java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    val cdcRetentionErr = new AtomicBoolean(false)
    val pool = Executors.newFixedThreadPool(4)
    pool.submit(new Runnable { def run(): Unit = {
      try (2 to totalVersions).foreach { v =>
        VersionedTable.commit(spark, root,
          Seq((v.toLong, v.toLong)).toDF("id", "v"))
        committed.set(v.toLong)
      } catch { case e: Throwable =>
        violations.add(s"writer threw: $e")
      } finally writerDone.set(true)
    }})
    pool.submit(new Runnable { def run(): Unit = {
      while (!writerDone.get()) {
        try VersionedTable.vacuum(spark, root, keepVersions = keep)
        catch { case e: Throwable => violations.add(s"vacuum threw: $e") }
        Thread.sleep(20)
      }
    }})
    pool.submit(new Runnable { def run(): Unit = {
      val rnd = new scala.util.Random(7)
      while (!writerDone.get()) {
        val c0 = committed.get()
        val v = 1L + rnd.nextInt(c0.toInt).toLong
        try {
          val got = VersionedTable.read(spark, root, Some(v))
            .select("id").collect().map(_.getLong(0)).toSet
          // a read that RETURNS must return the exact snapshot —
          // a missing dir must fail the scan, never shrink it
          if (got != (1L to v).toSet)
            violations.add(s"read v$v returned $got")
        } catch { case _: Throwable =>
          // acceptable only for versions vacuum was allowed to drop
          // (+1: a commit may have landed before its counter update,
          // making one more version drop-eligible than `committed` shows)
          val c1 = committed.get()
          if (v > c1 + 1 - keep)
            violations.add(s"read of retained v$v failed (latest $c1)")
        }
      }
    }})
    pool.submit(new Runnable { def run(): Unit = {
      while (!writerDone.get()) {
        try VersionedTable.processNewVersions(spark, root, cursor) {
          (changes, _) =>
            changes.filter(col("change") === "insert").select("id")
              .collect().foreach(r => cdcSeen.add(r.getLong(0)))
        } catch { case _: Throwable =>
          // cursor fell behind retention — the documented contract
          cdcRetentionErr.set(true)
          return
        }
        Thread.sleep(15)
      }
    }})
    pool.shutdown()
    assert(pool.awaitTermination(180, TimeUnit.SECONDS), "race law hung")
    assert(violations.isEmpty, violations.toArray.mkString("; "))
    // final state: the full table, regardless of interleaving
    assert(VersionedTable.read(spark, root)
      .select("id").collect().map(_.getLong(0)).toSet ==
      (1L to totalVersions).toSet)
    // the tail either hit the retention contract or saw every insert
    // it consumed correctly (at-least-once, appends only — the seen
    // set must be a prefix-closed subset of the true inserts)
    if (!cdcRetentionErr.get()) {
      import scala.jdk.CollectionConverters._
      val seen = cdcSeen.asScala.toSet
      assert(seen.subsetOf((1L to totalVersions).toSet),
        s"CDC emitted rows that were never committed: $seen")
      assert(seen.nonEmpty, "CDC tail consumed nothing")
    }
  }

  test("shallow clone: zero-copy, isolated writes, CoW over cloned dirs, compact severs") {
    val src = tmpDir("vtabsrc")
    val dst = tmpDir("vtabdst")
    VersionedTable.commit(spark, src,
      Seq((1L, "a"), (2L, "b")).toDF("id", "s"))
    VersionedTable.commit(spark, src, Seq((3L, "c")).toDF("id", "s"))
    VersionedTable.addConstraint(spark, src, "id_pos", "id > 0")
    def rows(root: String) = VersionedTable.read(spark, root)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(VersionedTable.cloneShallow(spark, src, dst) == 1L)
    // metadata-only: the source snapshot reads through, constraints
    // travel, and NO data lands under the clone root
    assert(rows(dst) == Set((1L, "a"), (2L, "b"), (3L, "c")))
    assert(VersionedTable.constraintsOf(spark, dst) ==
      Seq("id_pos" -> "id > 0"))
    assert(!new java.io.File(s"$dst/data").exists(),
      "shallow clone must copy zero data")
    // writes are isolated both ways
    VersionedTable.commit(spark, dst, Seq((4L, "d")).toDF("id", "s"))
    VersionedTable.commit(spark, src, Seq((9L, "z")).toDF("id", "s"))
    assert(rows(dst).map(_._1) == Set(1L, 2L, 3L, 4L))
    assert(rows(src).map(_._1) == Set(1L, 2L, 3L, 9L))
    // the cloned constraint enforces on the clone
    intercept[IllegalArgumentException] {
      VersionedTable.commit(spark, dst, Seq((-1L, "x")).toDF("id", "s"))
    }
    // predicate CoW and merge rewrite CLONED dirs correctly (dirKey
    // matching between absolute manifest entries and input_file_name)
    VersionedTable.deleteWhere(spark, dst, col("id") === 2L)
    VersionedTable.updateWhere(spark, dst, col("id") === 1L,
      Map("s" -> lit("A")))
    VersionedTable.merge(spark, dst,
      Seq((3L, "C"), (5L, "e")).toDF("id", "s"), keys = Seq("id"))
    assert(rows(dst) ==
      Set((1L, "A"), (3L, "C"), (4L, "d"), (5L, "e")))
    // ...with the source untouched by any of it
    assert(rows(src) ==
      Set((1L, "a"), (2L, "b"), (3L, "c"), (9L, "z")))
    // a cloned KEYED dir keeps its idempotency identity: re-offering
    // the same logical commit against the clone is a no-op (the clone
    // entry is an absolute path, matched by dirKey, not raw string)
    val src2 = tmpDir("vtabsrck")
    val dst2 = tmpDir("vtabdstk")
    VersionedTable.commit(spark, src2, Seq((1L, "a")).toDF("id", "s"),
      idempotencyKey = Some("batch-7"))
    VersionedTable.cloneShallow(spark, src2, dst2)
    val beforeRedeliver = VersionedTable.versions(spark, dst2)
    VersionedTable.commit(spark, dst2, Seq((9L, "dup")).toDF("id", "s"),
      idempotencyKey = Some("batch-7"))
    assert(VersionedTable.versions(spark, dst2) == beforeRedeliver,
      "re-delivered keyed commit must no-op on a clone")
    assert(VersionedTable.read(spark, dst2).count() == 1L)
    // cloning INTO an existing table is refused, never an overwrite
    intercept[IllegalArgumentException] {
      VersionedTable.cloneShallow(spark, src2, dst)
    }
    // compact rewrites locally and severs the source dependency:
    // orphan the source dirs and vacuum them away, clone still reads
    VersionedTable.compact(spark, dst)
    VersionedTable.commit(spark, src,
      Seq((7L, "w")).toDF("id", "s"), overwrite = true)
    VersionedTable.vacuum(spark, src, keepVersions = 1)
    assert(rows(dst) ==
      Set((1L, "A"), (3L, "C"), (4L, "d"), (5L, "e")),
      "compacted clone must survive source vacuum")
  }

  test("NOT NULL sugar; constraint survives additive schema evolution") {
    val root = tmpDir("vtabnn")
    VersionedTable.commit(spark, root, Seq((1L, "a")).toDF("id", "s"))
    VersionedTable.addNotNull(spark, root, "s")
    intercept[IllegalArgumentException] {
      VersionedTable.commit(spark, root,
        Seq((2L, None: Option[String])).toDF("id", "s"))
    }
    // additive evolution keeps the constraint; older rows unaffected
    VersionedTable.commit(spark, root,
      Seq((3L, "c", 1.5)).toDF("id", "s", "score"), mergeSchema = true)
    assert(VersionedTable.constraintsOf(spark, root) ==
      Seq("nn_s" -> "s IS NOT NULL"))
    intercept[IllegalArgumentException] {
      VersionedTable.commit(spark, root,
        Seq((4L, None: Option[String], 2.0)).toDF("id", "s", "score"))
    }
    // overwrite-narrowing past a constrained column is loud, not silent
    val ex = intercept[IllegalArgumentException] {
      VersionedTable.commit(spark, root,
        Seq(Tuple1(5L)).toDF("id"), overwrite = true)
    }
    assert(ex.getMessage.contains("nn_s"))
    // dropping the constraint unblocks the new generation
    VersionedTable.dropConstraint(spark, root, "nn_s")
    VersionedTable.commit(spark, root,
      Seq(Tuple1(5L)).toDF("id"), overwrite = true)
    assert(VersionedTable.read(spark, root).columns.toSeq == Seq("id"))
  }

  test("deleteWhere keeps NULL-condition rows (three-valued logic)") {
    val root = tmpDir("vtabnulldel")
    // one dir holding BOTH a cond=TRUE row and a cond=NULL row: the
    // dir is touched (it has a true match), and the rewrite must keep
    // the NULL-verdict row — SQL deletes only cond=TRUE rows
    VersionedTable.commit(spark, root, Seq(
      (1L, Some("x")), (2L, None), (3L, Some("y"))).toDF("id", "s"))
    VersionedTable.deleteWhere(spark, root, col("s") === "x")
    assert(VersionedTable.read(spark, root)
      .collect().map(r => (r.getLong(0), Option(r.getString(1)))).toSet ==
      Set((2L, None), (3L, Some("y"))),
      "a NULL WHERE verdict must KEEP the row, not delete it")
  }

  test("updateWhere SET assignments all read the pre-update row") {
    val root = tmpDir("vtabswap")
    VersionedTable.commit(spark, root,
      Seq((1L, 10L, 100L), (2L, 20L, 200L)).toDF("id", "a", "b"))
    // SET a = b, b = a must SWAP — b's RHS sees the ORIGINAL a
    VersionedTable.updateWhere(spark, root, col("id") === 1L,
      Map("a" -> col("b"), "b" -> col("a")))
    assert(VersionedTable.read(spark, root)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet == Set((1L, 100L, 10L), (2L, 20L, 200L)))
    // a SET target that is not a column is refused (withColumn would
    // silently ADD a misspelled column)
    val ex = intercept[IllegalArgumentException] {
      VersionedTable.updateWhere(spark, root, col("id") === 1L,
        Map("nope" -> lit(1L)))
    }
    assert(ex.getMessage.contains("nope"))
  }

  test("merge: NULL deleteMatched verdict falls through to update") {
    val root = tmpDir("vtabnullmerge")
    VersionedTable.commit(spark, root,
      Seq((1L, "old1"), (2L, "old2"), (3L, "old3")).toDF("id", "s"))
    // source: id=1 flag true (delete), id=2 flag NULL (must UPDATE,
    // not vanish), id=3 flag false (update)
    val src = Seq((1L, "n1", Some(true)), (2L, "n2", None),
      (3L, "n3", Some(false))).toDF("id", "s", "del")
    VersionedTable.merge(spark, root, src.select("id", "s"), Seq("id"),
      deleteMatched = Some(col("id") === 1L ||
        (when(col("id") === 2L, lit(null).cast("boolean"))
          .otherwise(lit(false)))))
    assert(VersionedTable.read(spark, root)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet ==
      Set((2L, "n2"), (3L, "n3")),
      "NULL delete verdict = not deleted = updated by the source row")
  }

  test("merge updateSet: delete+assign combo, missing source column " +
      "errors, unknown target refused") {
    val root = tmpDir("vtabmset")
    VersionedTable.commit(spark, root,
      Seq((1L, 10L, "x"), (2L, 20L, "y"), (3L, 30L, "z"))
        .toDF("id", "qty", "note"))
    // source: id=1 accumulates, id=2 deletes (flagged), id=9 inserts
    val src = Seq((1L, 5L, false), (2L, 0L, true), (9L, 7L, false))
      .toDF("id", "qty", "del")
    intercept[IllegalArgumentException] {
      // `del` is not a table column — the aligned-insert contract
      // still rejects extra source columns under updateSet
      VersionedTable.merge(spark, root, src, Seq("id"),
        updateSet = Some(Seq("qty" -> expr("t.qty + s.qty"))))
    }
    VersionedTable.merge(spark, root,
      src.withColumn("del2", col("del")).drop("del")
        .withColumnRenamed("del2", "note")
        .select(col("id"), col("qty"), col("note").cast("string")),
      Seq("id"),
      deleteMatched = Some(col("note") === "true"),
      updateSet = Some(Seq("qty" -> expr("t.qty + s.qty"))))
    assert(VersionedTable.read(spark, root)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        Option(r.getString(2)))).toSet ==
      Set((1L, 15L, Some("x")),          // assigned qty, kept note
        (3L, 30L, Some("z")),            // unmatched target untouched
        (9L, 7L, Some("false"))),        // insert carries source row
      "delete+assign merge mismatch")
    // referencing a column the source doesn't carry is an analysis
    // error, never a silent NULL (raw source under alias s)
    val miss = intercept[Exception] {
      VersionedTable.merge(spark, root,
        Seq(Tuple1(1L)).toDF("id"), Seq("id"),
        updateSet = Some(Seq("qty" -> expr("s.qty + 1"))))
    }
    assert(miss.getMessage.toLowerCase.contains("cannot be resolved") ||
      miss.getMessage.contains("UNRESOLVED_COLUMN"),
      miss.getMessage.take(200))
    // unknown assignment target refused
    val bad = intercept[IllegalArgumentException] {
      VersionedTable.merge(spark, root,
        Seq(Tuple1(1L)).toDF("id"), Seq("id"),
        updateSet = Some(Seq("nope" -> lit(1L))))
    }
    assert(bad.getMessage.contains("nope"))
    // degenerate-equivalence law: assigning EVERY column from the
    // source row must equal the whole-row SET * path bit for bit
    val rootA = tmpDir("vtabmseq_a")
    val rootB = tmpDir("vtabmseq_b")
    val base = Seq((1L, 10L, "x"), (2L, 20L, "y")).toDF("id", "qty", "note")
    val src2 = Seq((2L, 99L, "upd"), (5L, 1L, "new"))
      .toDF("id", "qty", "note")
    VersionedTable.commit(spark, rootA, base)
    VersionedTable.commit(spark, rootB, base)
    VersionedTable.merge(spark, rootA, src2, Seq("id"))  // SET *
    VersionedTable.merge(spark, rootB, src2, Seq("id"),
      updateSet = Some(Seq("id" -> expr("s.id"),
        "qty" -> expr("s.qty"), "note" -> expr("s.note"))))
    assertSameRows(VersionedTable.read(spark, rootA),
      VersionedTable.read(spark, rootB))
  }

  test("changesBetween refuses reversed anchors") {
    val root = tmpDir("vtabrev")
    VersionedTable.commit(spark, root, Seq(Tuple1(1L)).toDF("id"))
    VersionedTable.commit(spark, root, Seq(Tuple1(2L)).toDF("id"))
    val ex = intercept[IllegalArgumentException] {
      VersionedTable.changesBetween(spark, root, 2L, 1L)
    }
    assert(ex.getMessage.contains("ascend"))
  }

  test("merge keyed on a string column named __dir upserts") {
    // the touched-dir scan tags rows with a working dir column; a key
    // of the same name must not be replaced by it
    val root = tmpDir("vtabdirkey_s")
    VersionedTable.commit(spark, root,
      Seq(("k1", "a"), ("k2", "b")).toDF("__dir", "v"))
    VersionedTable.merge(spark, root,
      Seq(("k1", "A")).toDF("__dir", "v"), Seq("__dir"))
    assert(VersionedTable.read(spark, root).collect()
      .map(r => (r.getString(0), r.getString(1))).sorted.toSeq ==
      Seq(("k1", "A"), ("k2", "b")))
  }

  test("merge keyed on a bigint column named __dir upserts") {
    val root = tmpDir("vtabdirkey_l")
    VersionedTable.commit(spark, root,
      Seq((1L, "a"), (2L, "b")).toDF("__dir", "v"))
    VersionedTable.merge(spark, root,
      Seq((1L, "A")).toDF("__dir", "v"), Seq("__dir"))
    assert(VersionedTable.read(spark, root).collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq ==
      Seq((1L, "A"), (2L, "b")))
  }

  test("optimizeZOrder keeps a user column named __z") {
    val root = tmpDir("vtabzcol")
    VersionedTable.commit(spark, root,
      Seq((1L, 2L, "keep1"), (3L, 4L, "keep2")).toDF("x", "y", "__z"))
    VersionedTable.commit(spark, root,
      Seq((5L, 6L, "keep3")).toDF("x", "y", "__z"))
    VersionedTable.optimizeZOrder(spark, root, Seq("x", "y"), nFiles = 2)
    assert(VersionedTable.read(spark, root).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted.toSeq ==
      Seq((1L, 2L, "keep1"), (3L, 4L, "keep2"), (5L, 6L, "keep3")))
  }
}
