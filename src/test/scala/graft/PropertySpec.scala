package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop}
import org.scalacheck.Prop.forAll
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Dedup, Relational}

/** Property-based algebraic laws (SURVEY §5.2): randomized inputs
  * against the operator library. Spark jobs are expensive per check, so
  * each property runs a reduced number of sized cases. */
class PropertySpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  private def check(p: Prop): Unit = {
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default
        .withMinSuccessfulTests(8).withMaxSize(40), p)
    assert(res.passed, res.status.toString)
  }

  private val rowsGen: Gen[List[(Long, String, Long)]] =
    Gen.listOf(for {
      k <- Gen.chooseNum(0L, 6L) // few keys → collisions guaranteed
      s <- Gen.oneOf("a", "b", "c")
      v <- Gen.chooseNum(-100L, 100L)
    } yield (k, s, v))

  test("fingerprintHammingPairs equals brute force on random fingerprints " +
      "(pigeonhole completeness at every radius in the envelope)") {
    // clustered fingerprints: a base word plus 0-6 random bit flips,
    // so pairs exist at every radius (uniform random 64-bit words are
    // almost never within Hamming 4 of each other)
    val fpsGen: Gen[List[Long]] = for {
      bases <- Gen.nonEmptyListOf(Gen.long)
      out <- Gen.listOfN(math.min(bases.size * 3, 24), for {
        b <- Gen.oneOf(bases)
        nf <- Gen.chooseNum(0, 6)
        flips <- Gen.listOfN(nf, Gen.chooseNum(0, 63))
      } yield flips.foldLeft(b)((w, i) => w ^ (1L << i)))
    } yield out
    check(forAll(fpsGen, Gen.chooseNum(0, 4)) { (fps, r) =>
      fps.isEmpty || {
        val rows = fps.zipWithIndex
          .map { case (fp, i) => (i.toLong, fp) }
        val want = (for {
          (a, ia) <- rows; (b, ib) <- rows
          if a < b && java.lang.Long.bitCount(ia ^ ib) <= r
        } yield (a, b)).toSet
        val got = Dedup.fingerprintHammingPairs(
            rows.toDF("id", "fp"), maxHamming = r, nBands = r + 1)
          .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
        got == want
      }
    })
  }

  test("salted aggregation equals plain aggregation on random data") {
    check(forAll(rowsGen) { rows =>
      rows.isEmpty || {
        val df = rows.toDF("k", "s", "v")
        val plain = df.groupBy("k").agg(sum("v").as("t")).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        val salted = Relational.saltedSumAgg(df, Seq("k"), col("v"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        plain == salted
      }
    })
  }

  test("mergeInto algebraic laws: empty source is identity; " +
      "update+insert reconstructs the reference merge on random data") {
    check(forAll(rowsGen, rowsGen) { (rt, rs) =>
      // unique keys per side (ANSI MERGE requires unique source match)
      val tRows = rt.distinctBy(_._1)
      val sRows = rs.distinctBy(_._1)
      val t = tRows.toDF("k", "s", "v")
      val s = sRows.toDF("k", "s", "v")
      val merged = graft.operators.Warehouse.mergeInto(t, s, Seq("k"),
          whenMatchedUpdate = Map("v" -> col("s.v")))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
        .toSet
      val sMap = sRows.map(r => r._1 -> r).toMap
      val tKeys = tRows.map(_._1).toSet
      val expected =
        tRows.map(r => sMap.get(r._1)
          .map(sr => (r._1, r._2, sr._3)).getOrElse(r)).toSet ++
        sRows.filterNot(r => tKeys(r._1)).toSet
      val emptyIdentity = tRows.isEmpty || {
        val e = graft.operators.Warehouse.mergeInto(t,
          s.filter(lit(false)), Seq("k"),
          whenMatchedUpdate = Map("v" -> col("s.v")))
        e.count() == tRows.size
      }
      merged == expected && emptyIdentity
    })
  }

  test("sortedPercentiles matches built-in percentile on random data") {
    val valsGen: Gen[List[(String, Double)]] =
      Gen.nonEmptyListOf(for {
        g <- Gen.oneOf("x", "y")
        v <- Gen.chooseNum(-1000, 1000)
      } yield (g, v.toDouble))
    check(forAll(valsGen) { rows =>
      val df = rows.toDF("g", "v")
      val sorted = Relational.sortedPercentiles(df, Seq("g"), "v",
          Seq(0.25 -> "p25", 0.5 -> "p50", 0.75 -> "p75"))
        .collect().map(r => (r.getString(0), r.getDouble(1),
          r.getDouble(2), r.getDouble(3))).toSet
      val builtin = df.groupBy("g").agg(
          expr("percentile(v, 0.25)").as("p25"),
          expr("percentile(v, 0.5)").as("p50"),
          expr("percentile(v, 0.75)").as("p75"))
        .collect().map(r => (r.getString(0), r.getDouble(1),
          r.getDouble(2), r.getDouble(3))).toSet
      sorted == builtin
    })
  }

  test("sortedPercentiles huge routing (selection + guard) matches " +
      "built-in on duplicate-heavy random data") {
    // tiny value domain => heavy ties at every window edge, the case
    // where selection's rank arithmetic could slip by one; forced-huge
    // routing (hugeGroupMin = 0) sends every group through the
    // selection path or its guard fallback
    val valsGen: Gen[List[(String, Double)]] =
      Gen.nonEmptyListOf(for {
        g <- Gen.oneOf("x", "y")
        v <- Gen.chooseNum(0, 5)
      } yield (g, v.toDouble))
    check(forAll(valsGen) { rows =>
      val df = rows.toDF("g", "v")
      val sorted = Relational.sortedPercentiles(df, Seq("g"), "v",
          Seq(0.0 -> "p0", 0.5 -> "p50", 1.0 -> "p100"),
          hugeGroupMin = 0L)
        .collect().map(r => (r.getString(0), r.getDouble(1),
          r.getDouble(2), r.getDouble(3))).toSet
      val builtin = df.groupBy("g").agg(
          expr("percentile(v, 0.0)").as("p0"),
          expr("percentile(v, 0.5)").as("p50"),
          expr("percentile(v, 1.0)").as("p100"))
        .collect().map(r => (r.getString(0), r.getDouble(1),
          r.getDouble(2), r.getDouble(3))).toSet
      sorted == builtin
    })
  }

  test("union-all row counts are additive; union-distinct bounded") {
    check(forAll(rowsGen, rowsGen) { (ra, rb) =>
      val a = ra.toDF("k", "s", "v")
      val b = rb.toDF("k", "s", "v")
      val all = a.union(b).count()
      val dis = a.union(b).distinct().count()
      all == ra.size + rb.size && dis <= all &&
        dis >= math.max(a.distinct().count(), b.distinct().count())
    })
  }

  test("dedupKeepFirst emits one row per key, the minimal one") {
    check(forAll(rowsGen) { rows =>
      rows.isEmpty || {
        val df = rows.toDF("k", "s", "v")
        val out = Relational.dedupKeepFirst(df, Seq("k"),
          Seq(col("v"), col("s"))).collect()
          .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
        val expect = rows.groupBy(_._1).map { case (_, g) =>
          g.minBy(t => (t._3, t._2)) }.toSet
        out.toSet == expect && out.length == expect.size
      }
    })
  }

  test("asofJoinBackward equals the naive per-row backward lookup on random data") {
    val rng = new scala.util.Random(99)
    (1 to 3).foreach { _ =>
      val lefts = (0 until 120).map(i =>
        (i.toLong, (rng.nextInt(6) + 1).toLong, rng.nextInt(1000).toLong))
      val rights = (0 until 80).map { i =>
        val v: java.lang.Double =
          if (rng.nextInt(5) == 0) null else rng.nextInt(100).toDouble
        ((rng.nextInt(6) + 1).toLong, rng.nextInt(1000).toLong, v)
      }
      val l = lefts.toDF("eid", "k", "ts")
      val r = rights.toDF("k", "ts", "v")
      val got = Relational.asofJoinBackward(l, r, "k", "ts", "ts", Seq("v"))
        .select("eid", "v").collect()
        .map(row => row.getLong(0) ->
          (if (row.isNullAt(1)) null else row.getDouble(1))).toMap
      // naive reference: latest right row at-or-before, its value even
      // if null; ties on ts broken by taking the LAST in input order
      // is unspecified — restrict to unique (k, ts) on the right
      val rightsByKey = rights.groupBy(_._1)
      val expected = lefts.map { case (eid, k, ts) =>
        val cands = rightsByKey.getOrElse(k, Nil).filter(_._2 <= ts)
        eid -> (if (cands.isEmpty) null
                else cands.maxBy(_._2)._3.asInstanceOf[Any])
      }.toMap
      // drop lefts whose matched ts is duplicated on the right (the
      // winner among equal timestamps is tie-broken differently)
      val dupTs = rights.groupBy(t => (t._1, t._2)).filter(_._2.size > 1)
        .keySet
      val stable = lefts.filter { case (_, k, ts) =>
        val cands = rightsByKey.getOrElse(k, Nil).filter(_._2 <= ts)
        cands.isEmpty || !dupTs.contains((k, cands.maxBy(_._2)._2))
      }.map(_._1).toSet
      stable.foreach { eid =>
        assert(got(eid) == expected(eid),
          s"eid=$eid got ${got(eid)} expected ${expected(eid)}")
      }
    }
  }

  test("minhash similarity estimate concentrates around true jaccard") {
    val docGen = for {
      n <- Gen.chooseNum(8, 20)
      ws <- Gen.listOfN(n, Gen.oneOf(
        "alpha beta", "beta gamma", "gamma delta", "delta eps",
        "eps zeta", "zeta eta", "eta theta", "theta iota"))
    } yield ws.distinct
    check(forAll(docGen, docGen) { (sa, sb) =>
      (sa.isEmpty || sb.isEmpty) || {
        val est = Seq((sa, sb)).toDF("a", "b")
          .select(
            Dedup.minHashSignature(col("a"), 128).as("ma"),
            Dedup.minHashSignature(col("b"), 128).as("mb"))
          .select(aggregate(
            zip_with(col("ma"), col("mb"), (x, y) =>
              when(x === y, 1).otherwise(0)),
            lit(0), (acc, x) => acc + x).cast("double") / 128.0)
          .head().getDouble(0)
        val truth = sa.toSet.intersect(sb.toSet).size.toDouble /
          sa.toSet.union(sb.toSet).size
        math.abs(est - truth) < 0.3 // 128 hashes → sd ~= 0.044
      }
    })
  }

  test("BMP roundtrip law: decode(encode(img)) recovers dims and sums") {
    import graft.operators.MediaCodec
    val gen = for {
      w <- Gen.chooseNum(1, 9)
      h <- Gen.chooseNum(1, 7)
      seed <- Gen.chooseNum(0, 1000)
    } yield (w, h, seed)
    check(forAll(gen) { case (w, h, seed) =>
      def px(x: Int, y: Int) =
        ((seed + x * 31 + y * 7) % 256, (seed * 3 + x) % 256,
          (seed + y * 13) % 256)
      val dec = MediaCodec.decodeBmp24(
        MediaCodec.encodeBmp24(w, h, px)).get
      val want = for (y <- 0 until h; x <- 0 until w) yield px(x, y)
      dec.width == w && dec.height == h &&
        dec.sumR == want.map(_._1.toLong).sum &&
        dec.sumG == want.map(_._2.toLong).sum &&
        dec.sumB == want.map(_._3.toLong).sum
    })
  }

  test("WAV roundtrip law: decode(encode(clip)) recovers format and sums") {
    import graft.operators.MediaCodec
    val gen = for {
      ch <- Gen.chooseNum(1, 3)
      frames <- Gen.chooseNum(1, 50)
      rate <- Gen.oneOf(8000, 16000, 44100)
      xs <- Gen.listOfN(ch * frames,
        Gen.chooseNum(Short.MinValue.toInt, Short.MaxValue.toInt))
    } yield (ch, frames, rate, xs.map(_.toShort).toArray)
    check(forAll(gen) { case (ch, frames, rate, xs) =>
      val dec = MediaCodec.decodeWavPcm16(
        MediaCodec.encodeWavPcm16(rate, ch, xs)).get
      dec.sampleRate == rate && dec.channels == ch &&
        dec.nFrames == frames &&
        dec.sumAbs == xs.map(s => math.abs(s.toLong)).sum &&
        dec.maxAbs == xs.map(s => math.abs(s.toInt)).foldLeft(0)(math.max)
    })
  }

  test("bucket-mate pairing law: equals the self-join pair set") {
    import graft.operators.Similarity
    val gen = Gen.listOf(for {
      id <- Gen.chooseNum(0L, 30L)
      probe <- Gen.chooseNum(0, 2)
      bucket <- Gen.chooseNum(0L, 4L)
    } yield (probe, bucket, id))
    check(forAll(gen) { rows =>
      val distinctRows = rows.distinct
      distinctRows.isEmpty || {
        val probed = distinctRows.toDF("probe", "bucket", "id")
        val got = Similarity.bucketMatePairs(probed, ordered = true)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        val want = (for {
          (p1, b1, a) <- distinctRows
          (p2, b2, b) <- distinctRows
          if p1 == p2 && b1 == b2 && a != b
        } yield (a, b)).toSet
        got == want
      }
    })
  }

  /** Versioned-table DML law: ANY sequence of upsert-merge /
    * predicate-delete / predicate-update operations leaves the table
    * equal to the same sequence applied to a plain in-memory map —
    * and the intermediate snapshots stay time-travelable. */
  test("versioned table: racing concurrent appenders never lose an " +
      "update — every commit lands, distinct versions, union snapshot") {
    import graft.operators.VersionedTable
    import spark.implicits._
    import scala.concurrent.{Await, Future, ExecutionContext}
    import scala.concurrent.duration._
    // the lost-update scenario the manifest CAS must rule out: N
    // writers race append commits; a loser that rebased onto a stale
    // snapshot would publish a manifest missing the winner's dir
    val root = tmpDir("vtab_race")
    val n = 8
    val pool = ExecutionContext.fromExecutorService(
      java.util.concurrent.Executors.newFixedThreadPool(n))
    try {
      val futures = (1 to n).map { i =>
        Future(VersionedTable.commit(spark, root,
          Seq((i.toLong, s"w$i")).toDF("k", "s")))(pool)
      }
      implicit val ec: ExecutionContext = pool
      val versions = Await.result(
        Future.sequence(futures), 180.seconds)
      assert(versions.toSet.size == n, s"version collision: $versions")
      val committed = VersionedTable.versions(spark, root)
      assert(committed.size == n, s"committed: $committed")
      // the final snapshot carries EVERY writer's rows
      val got = VersionedTable.read(spark, root)
        .as[(Long, String)].collect().toSet
      assert(got == (1 to n).map(i => (i.toLong, s"w$i")).toSet, got)
      // monotone history: version k's snapshot has exactly k dirs'
      // worth of rows (each commit appended exactly one writer)
      val latest = committed.max
      assert(VersionedTable.read(spark, root, Some(latest)).count() == n)
    } finally pool.shutdown()
  }

  test("versioned table: torn-manifest crash debris burns its slot " +
      "number — skipped, never deleted, never resurrected") {
    import graft.operators.VersionedTable
    import spark.implicits._
    val root = tmpDir("vtab_torn")
    VersionedTable.commit(spark, root, Seq((1L, "a")).toDF("k", "s")) // v1
    // plant pre-protocol crash debris: a slot file with no #END
    // terminator at the next claim slot (v2)
    val torn = new java.io.File(root, "_vlog/v00002.manifest")
    torn.getParentFile.mkdirs()
    java.nio.file.Files.write(torn.toPath,
      "data/half-written\n".getBytes("UTF-8"))
    assert(VersionedTable.versions(spark, root) == Seq(1L)) // torn ≠ committed
    val v = VersionedTable.commit(spark, root, Seq((2L, "b")).toDF("k", "s"))
    // the torn slot is burned (deleting it on the claim path would be
    // a check-then-act race against a competitor committing it); the
    // commit lands one past it with the chain intact, and the debris's
    // phantom dir never resurrects
    assert(v == 3L, s"expected torn slot 2 burned, commit at 3, got $v")
    assert(torn.exists(), "debris must not be deleted by the claim path")
    assert(VersionedTable.versions(spark, root) == Seq(1L, 3L))
    assert(VersionedTable.read(spark, root).as[(Long, String)]
      .collect().toSet == Set((1L, "a"), (2L, "b")))
  }

  test("dedupSubstrings == an independent in-memory seed-coverage " +
      "model on random tiny-vocab corpora") {
    import graft.operators.TextOps
    val k = 3
    // tiny vocabulary forces genuine duplicated k-grams at arbitrary
    // alignments, including within-doc self-repeats
    val docGen: Gen[List[(Long, String)]] = for {
      n <- Gen.chooseNum(1, 10)
      texts <- Gen.listOfN(n, Gen.chooseNum(0, 18).flatMap(len =>
        Gen.listOfN(len, Gen.oneOf("p", "q", "r", "s", "t"))
          .map(_.mkString(" "))))
    } yield texts.zipWithIndex.map { case (t, i) => ((i + 1).toLong, t) }
    def model(docs: List[(Long, String)])
        : Map[Long, (Long, Long, String)] = {
      val wins = for {
        (id, t) <- docs
        w = t.split(" ", -1)
        s <- 0 to w.length - k
      } yield (id, s, w.slice(s, s + k).mkString(" "))
      val first = wins.groupBy(_._3)
        .map { case (g, occ) => g -> occ.minBy(o => (o._1, o._2)) }
      val removed = wins.filter(o => first(o._3) != o)
        .flatMap(o => (o._2 until o._2 + k).map(p => (o._1, p))).toSet
      docs.map { case (id, t) =>
        val w = t.split(" ", -1)
        val kept = w.zipWithIndex
          .collect { case (tok, i) if !removed((id, i)) => tok }
        id -> (w.length.toLong, (w.length - kept.length).toLong,
          kept.mkString(" "))
      }.toMap
    }
    check(forAll(docGen) { docs =>
      docs.isEmpty || {
        val got = TextOps.dedupSubstrings(docs.toDF("doc_id", "text"), k)
          .collect()
          .map(r => r.getLong(0) ->
            (r.getLong(1), r.getLong(2), r.getString(3))).toMap
        got == model(docs)
      }
    })
  }

  test("versioned table: drop-and-recreate in one JVM never serves the " +
      "dead generation's cached manifest") {
    import graft.operators.VersionedTable
    import spark.implicits._
    val root = tmpDir("vtab_regen")
    // generation 1: commit, then READ (populates the committed-manifest
    // cache for (root, v1))
    VersionedTable.commit(spark, root, Seq((1L, "gen1")).toDF("k", "s"))
    assert(VersionedTable.read(spark, root).as[(Long, String)]
      .collect().toSet == Set((1L, "gen1")))
    // drop the table root entirely and recreate it: slot numbers reuse
    def rmrf(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rmrf)
      f.delete(); ()
    }
    rmrf(new java.io.File(root))
    // dir names are fixed-width uuids, so generations with equal dir
    // counts tie on the dirs' bytes — the writer's random-length END
    // nonce is what varies the manifest length across generations
    // (mtime resolution can be 1s on some filesystems)
    VersionedTable.commit(spark, root, Seq((2L, "gen2")).toDF("k", "s"))
    // a (root, version)-keyed cache would return gen1's dir list here:
    // either wrong rows or a read failure on the deleted gen1 data dir
    assert(VersionedTable.read(spark, root).as[(Long, String)]
      .collect().toSet == Set((2L, "gen2")),
      "recreated table must read its own generation, not the cache")
  }

  test("versioned table == reference map under random DML sequences") {
    sealed trait Op
    case class Upsert(rows: List[(Long, Long)]) extends Op
    case class Delete(mod: Long) extends Op
    case class Update(mod: Long, add: Long) extends Op
    // column-level merge: matched rows ACCUMULATE (v := t.v + s.v),
    // unmatched insert — the updateSet path interleaved with every
    // other DML shape
    case class Accumulate(rows: List[(Long, Long)]) extends Op
    val rowsGen = Gen.nonEmptyListOf(for {
      k <- Gen.chooseNum(0L, 12L)
      v <- Gen.chooseNum(-50L, 50L)
    } yield (k, v)).map(rs =>
      // one source row per key (merge's contract)
      rs.groupBy(_._1).map(_._2.head).toList)
    val opGen: Gen[Op] = Gen.oneOf(
      rowsGen.map(Upsert(_)),
      rowsGen.map(Accumulate(_)),
      Gen.chooseNum(2L, 5L).map(Delete(_)),
      for {
        m <- Gen.chooseNum(2L, 5L)
        a <- Gen.chooseNum(1L, 9L)
      } yield Update(m, a))
    val seqGen = Gen.listOfN(4, opGen)
    check(forAll(seqGen) { ops =>
      val root = tmpDir("vtabprop")
      var model = Map.empty[Long, Long]
      graft.operators.VersionedTable.commit(spark, root,
        Seq((100L, 0L)).toDF("id", "v"))
      model += (100L -> 0L)
      ops.foreach {
        case Upsert(rows) =>
          graft.operators.VersionedTable.merge(spark, root,
            rows.toDF("id", "v"), Seq("id"))
          model ++= rows
        case Accumulate(rows) =>
          graft.operators.VersionedTable.merge(spark, root,
            rows.toDF("id", "v"), Seq("id"),
            updateSet = Some(Seq("v" -> expr("t.v + s.v"))))
          rows.foreach { case (k, v) =>
            model += (k -> (model.getOrElse(k, 0L) + v)) }
        case Delete(m) =>
          graft.operators.VersionedTable.deleteWhere(spark, root,
            col("id") % m === 0)
          model = model.filter { case (k, _) => k % m != 0 }
        case Update(m, a) =>
          graft.operators.VersionedTable.updateWhere(spark, root,
            col("id") % m === 0, Map("v" -> (col("v") + a)))
          model = model.map { case (k, v) =>
            k -> (if (k % m == 0) v + a else v) }
      }
      val got = graft.operators.VersionedTable.read(spark, root)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val v1StillReadable = graft.operators.VersionedTable
        .read(spark, root, Some(1L)).count() == 1
      got == model && v1StillReadable
    })
  }

  private val funnelEventsGen: Gen[List[(Long, String, Int)]] =
    Gen.listOf(for {
      u <- Gen.chooseNum(0L, 4L)
      s <- Gen.oneOf("a", "b", "c", "x") // x = non-funnel noise
      t <- Gen.chooseNum(0, 500) // seconds within ~8 minutes
    } yield (u, s, t))

  private def funnelDf(rows: List[(Long, String, Int)]) =
    rows.zipWithIndex.map { case ((u, s, t), i) => (u, s, t, i.toLong) }
      .toDF("user_id", "event_type", "tsec", "event_id")
      .select(col("user_id"), col("event_type"),
        timestamp_seconds(lit(1704067200L) + col("tsec")).as("ts"),
        col("event_id"))

  test("windowFunnel against an in-memory greedy model on random streams") {
    check(forAll(funnelEventsGen) { rows =>
      rows.isEmpty || {
        val win = 120L
        val steps = Seq("a", "b", "c")
        val idx = steps.zipWithIndex.toMap
        // driver-side model of the leftmost-greedy chain
        val model = rows.filter(r => idx.contains(r._2))
          .map(r => (r._1, r._3.toLong * 1000000L, idx(r._2)))
          .sortBy(r => (r._2, r._3))
          .groupBy(_._1)
          .flatMap { case (u, evs) =>
            var t0 = 0L; var depth = 0; var last = 0L
            evs.foreach { case (_, t, si) =>
              if (depth == 0) { if (si == 0) { t0 = t; depth = 1; last = t } }
              else if (depth < steps.length && si == depth && t > last &&
                t <= t0 + win * 1000000L) { depth += 1; last = t }
            }
            if (depth > 0) Some(u -> depth) else None
          }
        val got = graft.operators.Behavior.windowFunnel(
            funnelDf(rows), "user_id", "event_type", "ts", steps, win)
          .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
        got == model
      }
    })
  }

  test("windowFunnel depth is monotone in the window length") {
    check(forAll(funnelEventsGen) { rows =>
      rows.isEmpty || {
        val df = funnelDf(rows)
        def depths(w: Long) = graft.operators.Behavior.windowFunnel(
            df, "user_id", "event_type", "ts", Seq("a", "b", "c"), w)
          .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
          .withDefaultValue(0)
        val small = depths(60L); val big = depths(600L)
        (small.keySet ++ big.keySet).forall(u => small(u) <= big(u))
      }
    })
  }

  test("gapFillDaily output is exactly keys x days; observed rows pass " +
      "through; fills agree where a single observation exists") {
    val obsGen = Gen.listOf(for {
      k <- Gen.oneOf("p", "q")
      day <- Gen.chooseNum(1, 9)
      v <- Gen.chooseNum(-50, 50)
    } yield (k, day, v.toDouble))
    check(forAll(obsGen) { rows0 =>
      val rows = rows0.groupBy(r => (r._1, r._2)).map(_._2.head).toList
      rows.isEmpty || {
        val df = rows.map { case (k, day, v) =>
          (k, f"2024-01-$day%02d", v)
        }.toDF("k", "ds", "v")
          .select(col("k"), to_date(col("ds")).as("dd"), col("v"))
        val out = graft.operators.TimeSeries.gapFillDaily(
          df, Seq("k"), "dd", "v", "2024-01-01", "2024-01-09").collect()
        val nKeys = rows.map(_._1).distinct.size
        val obs = rows.map { case (k, day, v) =>
          (k, f"2024-01-$day%02d") -> v
        }.toMap
        out.length == nKeys * 9 && out.forall { r =>
          val key = (r.getString(0), r.getDate(1).toString)
          obs.get(key).forall(v =>
            r.getDouble(3) == v && r.getDouble(4) == v)
        }
      }
    })
  }

  test("PageRank salting is invisible on random graphs: exact mode " +
      "bit-equal, double mode to 1e-9, any threshold") {
    // small dense-ish random graphs: self-loops, parallel edges,
    // dangling nodes, and hub nodes all occur; saltThreshold=1 forces
    // EVERY source onto the salted path, Long.MaxValue forces none
    val edgeGen: Gen[List[(Long, Long)]] =
      Gen.nonEmptyListOf(for {
        s <- Gen.chooseNum(0L, 7L)
        d <- Gen.chooseNum(0L, 7L)
      } yield (s, d))
    check(forAll(edgeGen) { es =>
      val df = es.toDF("src", "dst")
      // degrees ≤ 64 and lcm(1..) can repeat — keep exactness by
      // capping: only run exact mode when its preconditions hold
      val degs = es.groupBy(_._1).map(_._2.size).toSet
      val lcmOk =
        try {
          val l = degs.foldLeft(1L)((a, b) =>
            a / BigInt(a).gcd(BigInt(b)).toLong * b)
          val dOverS = BigDecimal(85) / BigDecimal(100L * l)
          (dOverS * BigDecimal(100L * l)).toBigIntExact.contains(BigInt(85)) &&
            2 + dOverS.underlying.stripTrailingZeros.scale.max(1) * 2 <= 18
        } catch { case _: Throwable => false }
      val salted = graft.operators.Graph
        .pageRank(df, 2, saltThreshold = 1L)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val plain = graft.operators.Graph
        .pageRank(df, 2, saltThreshold = Long.MaxValue)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val doubleOk = salted.keySet == plain.keySet &&
        salted.forall { case (k, v) => math.abs(v - plain(k)) < 1e-9 }
      val exactOk = !lcmOk || {
        def exact(threshold: Long) = graft.operators.Graph
          .pageRankExact(df, 2, saltThreshold = threshold)
          .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
        val se = exact(1L)
        val pe = exact(Long.MaxValue)
        // these graphs fit the driver-local twin, which ignores the
        // threshold: force the distributed plans so the salted exact
        // plan runs, and compare it with the unsalted one and the twin
        val (sd, pd) = withSQLConf("spark.graft.localTwin.maxRows" -> "0") {
          (exact(1L), exact(Long.MaxValue))
        }
        se == pe && sd == pd && sd == se
      }
      doubleOk && exactOk
    })
  }

  test("vec_sum_count equals a driver-side sum on random vectors " +
      "with nulls, NaNs, and ragged dims") {
    val vecGen: Gen[List[(Long, Option[List[Double]])]] =
      Gen.nonEmptyListOf(for {
        b <- Gen.chooseNum(0L, 2L)
        v <- Gen.option(Gen.oneOf(
          Gen.listOfN(3, Gen.chooseNum(-10.0, 10.0)),
          Gen.listOfN(2, Gen.chooseNum(-10.0, 10.0)),   // wrong dim
          Gen.const(List(Double.NaN, 1.0, 2.0))))       // NaN
      } yield (b, v))
    check(forAll(vecGen) { rows =>
      val df = rows.toDF("b", "v")
      val out = df.groupBy("b")
        .agg(graft.functions.VecSumCountAgg.vecSumCount(col("v"), 3)
          .as("sc"))
        .select(col("b"), col("sc.sums"), col("sc.n"))
        .collect()
        .map(r => r.getLong(0) -> ((r.getSeq[Double](1), r.getLong(2))))
        .toMap
      val ref = rows.groupBy(_._1).map { case (b, rs) =>
        val good = rs.flatMap(_._2)
          .filter(v => v.length == 3 && !v.exists(_.isNaN))
        b -> ((0 until 3).map(i => good.map(_(i)).sum), good.size.toLong)
      }
      out.keySet == ref.keySet && out.forall { case (b, (sums, n)) =>
        val (rs, rn) = ref(b)
        n == rn && sums.zip(rs).forall { case (a, c) =>
          math.abs(a - c) < 1e-6
        }
      }
    })
  }

  test("measure-table law: for every kind a maintained lattice equals " +
      "the built one, cuboid by cuboid, and the Map-form fold agrees") {
    import graft.operators.Cube
    import graft.operators.Cube._
    val factGen: Gen[List[(Option[String], Option[Int], Option[BigDecimal],
        Option[Double], Option[Long])]] = Gen.listOf(for {
      a <- Gen.option(Gen.oneOf("p", "q"))
      b <- Gen.option(Gen.chooseNum(0, 2))
      v <- Gen.option(Gen.chooseNum(-500L, 500L).map(c => BigDecimal(c, 2)))
      d <- Gen.option(Gen.frequency(
        4 -> Gen.chooseNum(-5.0, 5.0), 1 -> Gen.const(Double.NaN)))
      id <- Gen.option(Gen.chooseNum(0L, 20L))
    } yield (a, b, v, d, id))
    val ms = Seq(MeasureDef("n", MCountAll),
      MeasureDef("cv", MCountCol, col("v")), MeasureDef("sv", MSum, col("v")),
      MeasureDef("mn", MMin, col("d")), MeasureDef("mx", MMax, col("d")),
      MeasureDef("bm", MBitmap, col("id")),
      MeasureDef("hll", MHllSketch, col("id")))
    val baseDims = Seq("a", "b")
    val children = Seq(Seq("a"), Seq("b"))
    def df(rows: List[(Option[String], Option[Int], Option[BigDecimal],
        Option[Double], Option[Long])]) = rows.toDF("a", "b", "v", "d", "id")
      .withColumn("v", col("v").cast("decimal(18,2)"))
    def types(f: org.apache.spark.sql.DataFrame) =
      f.schema.map(x => x.name -> x.dataType)
    // a bitmap compares by its canonical bytes, a sketch by its estimate
    def rows(f: org.apache.spark.sql.DataFrame) = f
      .withColumn("bm", base64(col("bm")))
      .withColumn("hll", hll_sketch_estimate(col("hll")))
      .collect().map(_.toString).sorted.toSeq
    def same(a: org.apache.spark.sql.DataFrame,
        b: org.apache.spark.sql.DataFrame) =
      types(a) == types(b) && rows(a) == rows(b)
    check(forAll(factGen, Gen.chooseNum(0, 40)) { (fact, cut) =>
      val (prefix, rest) = fact.splitAt(cut)
      val built = Cube.build(df(fact), ms, baseDims +: children,
        "law_cube_t_", register = false)
      val bases = ms.map(_.base)
      val oldBase = df(prefix).groupBy(baseDims.map(col): _*)
        .agg(bases.head, bases.tail: _*)
      val maintained = Cube.maintainLattice(baseDims, oldBase, df(rest),
        ms, children)
      val viaMap = graft.plans.AggRouting.maintainSummary(oldBase, df(rest),
        baseDims, ms.map(m => m.canonical -> m.name).toMap)
      built.forall(b => same(maintained(b.dims), spark.table(b.table))) &&
        same(viaMap, maintained(baseDims))
    })
  }
}
