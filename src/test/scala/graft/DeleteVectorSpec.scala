package graft

import graft.logs._
import org.apache.spark.sql.functions._

/** Row-level deletes ([[DeleteVectors]]): merge-on-read deletion vectors and
  * the MERGE/upsert built on them. Asserts the Delta/Iceberg contract on
  * local-disk and object-store stores: a delete commit moves zero data bytes, every read
  * path applies vectors, the pre-delete snapshot stays time-travelable,
  * maintenance materializes and carries correctly, and a stale vector fails
  * the read instead of corrupting it.
  */
/** SOAK suite (r17, VERDICT r16 #7): multi-minute store rehearsals —
  * excluded from the default `sbt test` so the driver's bounded run
  * completes; GRAFT_TEST_FULL=1 restores it (round-end certification
  * profile, recorded in OPTIMIZATION_r17.md).
  */
@org.scalatest.tags.Slow
class DeleteVectorSpec extends SparkSpec {
  import spark.implicits._

  private val parts = Seq("cluster", "namespace", "date")

  private def fixture() = Tables.events(spark, sf)
    .select(
      CriFunctions.nanosToTimestamp($"ts").as("time"),
      $"ts".as("time_ns"), lit("stdout").as("stream"), lit("F").as("logtag"),
      $"props".as("message"), lit("dev").as("cluster"),
      lit("ns0").as("namespace"), lit("n1").as("node"),
      lit("p1").as("pod"), lit("app").as("container"))
    .withColumn("date", date_format($"time", "yyyy-MM-dd"))

  private def withS3(name: String)(f: String => Unit): Unit = {
    val srv = new graft.sources.S3StubServer()
    try {
      val hc = spark.sparkContext.hadoopConfiguration
      hc.set("fs.s3l.impl", classOf[graft.sources.S3LiteFileSystem].getName)
      hc.set("fs.s3l.endpoint", srv.endpoint)
      hc.set("fs.s3l.impl.disable.cache", "true")
      f(s"s3l://graft-store/$name")
    } finally srv.stop()
  }

  // deterministic point-delete predicate (~1/7 of rows)
  private def delCond = xxhash64($"message") % 7 === 0

  test("flat (unpartitioned) pointer store: repeated merges carry at depth 0") {
    val root = java.nio.file.Files.createTempDirectory("graft-dv-flat")
      .resolve("store").toString
    GraftStore.init(spark, root)
    def batch(rows: (Long, String)*) = rows.toSeq.toDF("id", "payload")
    AppendCommit.commit(batch((1L, "a"), (2L, "b")), root,
      partitionCols = Seq.empty, commitId = Some("flat-0"))
    // the first merge works from the live tree; the SECOND works from a
    // manifest-only version whose carry rel is "" — its depth must come out
    // 0, not 1, or the staged rows "land in no partition dirs"
    DeleteVectors.mergeByKey(spark, root, batch((2L, "b2"), (3L, "c")),
      keyCols = Seq("id"), partitionCols = Seq.empty,
      commitId = Some("flat-m1"))
    DeleteVectors.mergeByKey(spark, root, batch((3L, "c2"), (4L, "d")),
      keyCols = Seq("id"), partitionCols = Seq.empty,
      commitId = Some("flat-m2"))
    val got = GraftStore.readStore(spark, root)
      .select($"id", $"payload").as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "a", 2L -> "b2", 3L -> "c2", 4L -> "d"))
  }

  test("over-cap delete auto-materializes copy-on-write (sf100 rehearsal finding)") {
    // maxRanges tiny → the scattered delete exceeds merge-on-read budget;
    // instead of refusing (r11 behavior, which crashed x15/x16 at sf100)
    // the engine commits the vectors then rewrites the vectored partitions,
    // leaving a vector-free live snapshot with exactly the right rows
    val root = java.nio.file.Files.createTempDirectory("graft-dv-cow")
      .resolve("store").toString
    val df = fixture()
    LogIngest.writeHive(df, root, partitionCols = parts)
    val total = df.count()
    val expectDel = df.filter(delCond).count()
    assert(expectDel > 2, "fixture must match enough rows to exceed the cap")
    val c = DeleteVectors.deleteWhere(spark, root, delCond,
      commitId = Some("cow-1"), maxRanges = 2)
    assert(c.materialized, "over-cap delete must take the copy-on-write path")
    assert(c.deletedRows == expectDel)
    val live = GraftStore.readStore(spark, root)
    assert(live.count() == total - expectDel)
    assert(live.filter(delCond).count() == 0L, "no deleted row may survive")
    // the rewrite shed the vectors: live version carries an empty sidecar
    assert(GraftStore.liveVersionOf(spark, root) == c.version)
    assert(DeleteVectors.read(spark, GraftStore.resolve(spark, root)).isEmpty,
      "materialized partitions must carry no vectors")
    // fail-fast is still available for callers that schedule their own rewrite
    val e = intercept[IllegalArgumentException] {
      DeleteVectors.deleteWhere(spark, root, length($"message") > 0,
        maxRanges = 2, materializeOverCap = false)
    }
    assert(e.getMessage.contains("merge-on-read"))

    // over-cap MERGE takes the same path (a SCATTERED update — contiguous
    // positions would compress to one range and stay under the cap)
    val up = df.filter(!delCond && xxhash64($"message") % 5 === 1)
      .withColumn("message", concat($"message", lit(" v2")))
    val nUp = up.count()
    assert(nUp > 2)
    val m = DeleteVectors.mergeByKey(spark, root, up,
      keyCols = Seq("time_ns"), partitionCols = parts,
      commitId = Some("cow-m1"), maxRanges = 2)
    assert(m.materialized, "over-cap merge must take the copy-on-write path")
    assert(m.matchedDeleted == nUp && m.inserted == nUp)
    assert(GraftStore.readStore(spark, root).count() == total - expectDel)
  }

  test("time travel across two over-cap commits anchors on explicit versions") {
    // the x15/x16 gate contract at bulk scale (sf100): each over-cap delete
    // is TWO commits (vector + materializing compaction), so relative
    // arithmetic like `c2.version - 1` lands on delete #2's own vector
    // commit. The correct anchors — c1.version, or a pre-captured current
    // version — must stay readable through the NEXT delete's two commits
    // when it retains two grace snapshots.
    val root = java.nio.file.Files.createTempDirectory("graft-dv-tt2")
      .resolve("store").toString
    val df = fixture()
    LogIngest.writeHive(df, root, partitionCols = parts)
    val total = df.count()
    val c1 = DeleteVectors.deleteWhere(spark, root, delCond,
      commitId = Some("tt2-1"), maxRanges = 2)
    assert(c1.materialized)
    val del2 = expr("((time_ns div 1000) % 97) < 13")
    val c2 = DeleteVectors.deleteWhere(spark, root, del2,
      commitId = Some("tt2-2"), maxRanges = 2, retainSnapshots = 2)
    assert(c2.materialized && c2.version >= c1.version + 2)
    // post-delete-#1 snapshot still reads complete under its own state
    assert(GraftStore.readVersion(spark, root, c1.version).count()
      == total - c1.deletedRows)
    // c2.version - 1 is delete #2's OWN vector commit — counting it proves
    // why the gates must not use relative arithmetic
    assert(GraftStore.readVersion(spark, root, c2.version - 1).count()
      == total - c1.deletedRows - c2.deletedRows)
    // merge anchor: a pre-captured version survives an over-cap merge's
    // two commits with retainSnapshots=2
    val preMergeCount = GraftStore.readStore(spark, root).count()
    val v0 = GraftStore.liveVersionOf(spark, root)
    val up = GraftStore.readStore(spark, root)
      .filter(xxhash64($"message") % 5 === 1)
      .withColumn("message", concat($"message", lit(" v2")))
    val m = DeleteVectors.mergeByKey(spark, root, up,
      keyCols = Seq("time_ns"), partitionCols = parts,
      commitId = Some("tt2-m1"), maxRanges = 2, retainSnapshots = 2)
    assert(m.materialized)
    assert(GraftStore.readVersion(spark, root, v0).count() == preMergeCount)
  }

  test("flat store: over-cap delete refuses BEFORE the commit lands") {
    // the copy-on-write fallback routes through partition-scoped compaction,
    // which a flat layout cannot take — the refusal must happen pre-commit
    // (r12 behavior committed the over-cap sidecar and THEN threw, leaving
    // the caller with an exception and the delete landed behind it)
    val root = java.nio.file.Files.createTempDirectory("graft-dv-flatcap")
      .resolve("store").toString
    GraftStore.init(spark, root)
    AppendCommit.commit(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "payload"),
      root, partitionCols = Seq.empty, commitId = Some("fc-0"))
    val before = GraftStore.liveVersionOf(spark, root)
    val e = intercept[IllegalArgumentException] {
      DeleteVectors.deleteWhere(spark, root, $"id" % 2 === 1,
        commitId = Some("fc-1"), maxRanges = 1) // ids 1,3 → 2 scattered ranges
    }
    assert(e.getMessage.contains("flat"), e.getMessage)
    assert(GraftStore.liveVersionOf(spark, root) == before,
      "over-cap flat delete must not land a version")
    assert(GraftStore.readStore(spark, root).count() == 3,
      "refused delete must leave every row live")
    // the same commitId must not read as already-applied on retry
    val c = DeleteVectors.deleteWhere(spark, root, $"id" % 2 === 1,
      commitId = Some("fc-1"))
    assert(!c.replayed && c.deletedRows == 2)
  }

  test("replay of an over-cap delete re-runs the deferred rewrite (crash-retry repair)") {
    // a crash between the vector commit and its compaction leaves the
    // over-cap sidecar live; a same-commitId retry must repair it instead
    // of replaying success with the debt still standing. Simulated by
    // committing under cap, then replaying with a cap below the live
    // sidecar's range count.
    val root = java.nio.file.Files.createTempDirectory("graft-dv-replaycow")
      .resolve("store").toString
    val df = fixture().limit(1000).cache()
    LogIngest.writeHive(df, root, partitionCols = parts)
    val c1 = DeleteVectors.deleteWhere(spark, root, delCond, commitId = Some("rp-1"))
    assert(!c1.replayed && !c1.materialized && c1.deletedRows > 0)
    assert(DeleteVectors.read(spark, GraftStore.resolve(spark, root)).nonEmpty)
    val liveRows = GraftStore.readStore(spark, root).count()
    // retry with the live sidecar now "over cap": replay must materialize
    val c2 = DeleteVectors.deleteWhere(spark, root, delCond,
      commitId = Some("rp-1"), maxRanges = 0)
    assert(c2.replayed && c2.materialized, s"got $c2")
    assert(DeleteVectors.read(spark, GraftStore.resolve(spark, root)).isEmpty,
      "replayed over-cap delete must shed the live vectors")
    assert(GraftStore.readStore(spark, root).count() == liveRows)
    // a further replay sees the sidecar under cap: no rewrite, and the
    // version reported is the ORIGINAL recorded commit's (replay contract)
    val liveAfter = GraftStore.liveVersionOf(spark, root)
    val c3 = DeleteVectors.deleteWhere(spark, root, delCond,
      commitId = Some("rp-1"), maxRanges = 0)
    assert(c3.replayed && !c3.materialized && c3.version == c1.version)
    assert(GraftStore.liveVersionOf(spark, root) == liveAfter,
      "an under-cap replay must not commit anything")
  }

  test("partitionColsOf: uniform k=v chains only — flat and mixed layouts yield None") {
    def e(key: String) = GraftStore.FileEntry(key, "/b", s"/b$key", 1L)
    assert(DeleteVectors.partitionColsOf(Seq(
      e("/cluster=dev/date=2024-01-01/a.parquet"),
      e("/cluster=dev/date=2024-01-02/b.parquet")))
      .contains(Seq("cluster", "date")))
    assert(DeleteVectors.partitionColsOf(Seq(e("/a.parquet"))).isEmpty)
    assert(DeleteVectors.partitionColsOf(Seq(
      e("/date=2024-01-01/a.parquet"), e("/b.parquet"))).isEmpty,
      "a flat legacy file beside k= dirs must not derive from the first entry")
    assert(DeleteVectors.partitionColsOf(Seq(
      e("/date=2024-01-01/a.parquet"), e("/cluster=dev/b.parquet"))).isEmpty,
      "disagreeing chains must not derive")
    assert(DeleteVectors.partitionColsOf(Seq.empty).isEmpty)
  }

  test("huge-debt range-filter application: scattered AND contiguous vectors apply exactly") {
    // both debt shapes through the broadcast range-search filter (the r14
    // rewrite: a DV is a per-file filter consulted during the scan, never a
    // join — r13's exploded anti-join cost 13.5 s where the scan costs
    // 0.8 s at sf10, and its pre-r13 ancestor hung 80 min at sf100)
    val root = java.nio.file.Files.createTempDirectory("graft-dv-bucket")
      .resolve("store").toString
    val df = fixture()
    LogIngest.writeHive(df, root, partitionCols = parts)
    val total = df.count()
    // scattered singleton ranges (the COW shape), vectors applied on read
    val nDel = df.filter(delCond).count()
    val c = DeleteVectors.deleteWhere(spark, root, delCond,
      commitId = Some("bkt-1"), materializeOverCap = false)
    assert(c.deletedRows == nDel && !c.materialized)
    val live = GraftStore.readStore(spark, root)
    assert(live.count() == total - nDel)
    assert(live.filter(delCond).count() == 0L)
    // a contiguous strike on top (ranges compress to a handful of long
    // spans): delete a whole time prefix — contiguous in ts order
    val cut = df.agg(expr("percentile_approx(time_ns, 0.3)")).head.getLong(0)
    val c2 = DeleteVectors.deleteWhere(spark, root, $"time_ns" <= cut,
      commitId = Some("bkt-2"), materializeOverCap = false)
    val expect2 = df.filter(!delCond && $"time_ns" <= cut).count()
    assert(c2.deletedRows == expect2, s"${c2.deletedRows} != $expect2")
    val live2 = GraftStore.readStore(spark, root)
    assert(live2.count() == total - nDel - expect2)
    assert(live2.filter(delCond || $"time_ns" <= cut).count() == 0L)
  }

  test("matched positions compress executor-side: the driver collects one row per FILE") {
    // r13 pulled O(matched rows) positions through the driver
    // (groupBy + collect_list + driver compress); the r14 contract is one
    // compressed row per touched file — here 3 files, 9 matched rows
    val matched = Seq(
      ("/f/a", 0L), ("/f/a", 1L), ("/f/a", 2L), ("/f/a", 10L),
      ("/f/b", 5L), ("/f/b", 7L), ("/f/b", 8L),
      ("/f/c", 0L), ("/f/c", 4096L))
      .toDF(DeleteVectors.PathCol, DeleteVectors.PosCol)
    val got = DeleteVectors.collectFileRanges(matched)
    assert(got.length == 3,
      "driver must receive exactly one row per touched file, not per matched row")
    val byPath = got.map { case (p, n, packed) =>
      (p, (n, DeleteVectors.unpackRanges(packed)))
    }.toMap
    assert(byPath("/f/a") == ((4L, Seq((0L, 2L), (10L, 10L)))))
    assert(byPath("/f/b") == ((3L, Seq((5L, 5L), (7L, 8L)))))
    assert(byPath("/f/c") == ((2L, Seq((0L, 0L), (4096L, 4096L)))))
    // equivalence with the driver-side reference compressor on a random set
    val rnd = new scala.util.Random(42)
    val ps = (0 until 500).map(_ => rnd.nextInt(2000).toLong).distinct.sorted
    val one = ps.map(p => ("/f/r", p)).toDF(DeleteVectors.PathCol, DeleteVectors.PosCol)
    val Array((_, n, packed)) = DeleteVectors.collectFileRanges(one)
    assert(n == ps.length)
    assert(DeleteVectors.unpackRanges(packed) == DeleteVectors.compress(ps))
    // empty match: nothing reaches the driver
    assert(DeleteVectors.collectFileRanges(
      matched.filter(lit(false))).isEmpty)
  }

  test("range compression and merge are exact") {
    assert(DeleteVectors.compress(Seq(0L, 1L, 2L, 5L, 7L, 8L)) ==
      Seq((0L, 2L), (5L, 5L), (7L, 8L)))
    assert(DeleteVectors.compress(Seq.empty) == Seq.empty)
    assert(DeleteVectors.mergeRanges(Seq((0L, 2L), (10L, 12L)), Seq((3L, 5L), (11L, 15L))) ==
      Seq((0L, 5L), (10L, 15L)))
    assert(DeleteVectors.Dv(1L, Seq((0L, 2L), (5L, 5L))).positions == 4L)
  }

  test("pointer tier: deleteWhere commits zero-data-movement, reads apply, time travel survives") {
    withS3("dv-lake") { root =>
      val df = fixture().limit(2000).cache()
      LogIngest.writeHive(df, root, partitionCols = parts)
      val total = df.count()
      val expectDeleted = df.filter(delCond).count()
      assert(expectDeleted > 0 && expectDeleted < total)

      val filesBefore = GraftStore.snapshots(spark, root).find(_.current).get

      val c = DeleteVectors.deleteWhere(spark, root, delCond, commitId = Some("dv-1"))
      assert(!c.replayed && c.version == 2 && c.deletedRows == expectDeleted)

      // live view: deleted rows gone, survivors exact (multiset)
      val live = GraftStore.readStore(spark, root)
      assert(live.count() == total - expectDeleted)
      assert(live.filter(delCond).count() == 0)
      val survivors = df.filter(!delCond)
      assert(live.select(df.columns.map(col): _*).exceptAll(survivors).isEmpty &&
        survivors.exceptAll(live.select(df.columns.map(col): _*)).isEmpty)

      // zero data movement: same physical files, same total bytes
      val filesAfter = GraftStore.snapshots(spark, root).find(_.current).get
      assert(filesAfter.files == filesBefore.files &&
        filesAfter.bytes == filesBefore.bytes)

      // pre-delete snapshot is intact (time travel)
      assert(GraftStore.readVersion(spark, root, 1).count() == total)

      // CDC: the delete commit diffs to exactly the deleted rows, all removed
      val diff = GraftStore.rowDiff(spark, root, 1, 2).cache()
      assert(diff.filter($"_change" === "added").count() == 0)
      assert(diff.filter($"_change" === "removed").count() == expectDeleted)
      diff.unpersist()
      assert(GraftStore.diffVersions(spark, root, 1, 2).rowDelta == -expectDeleted)

      // re-delete of the same predicate is a no-op (no new version)
      val c2 = DeleteVectors.deleteWhere(spark, root, delCond)
      assert(c2.version == 2 && c2.deletedRows == 0)

      // replay: same commit id short-circuits
      val c3 = DeleteVectors.deleteWhere(spark, root, lit(true), commitId = Some("dv-1"))
      assert(c3.replayed && c3.version == 2)

      // pruned read path applies vectors too
      val cutoff = df.agg(min($"time_ns")).as[Long].head()
      val pruned = spark.read.format("graft")
        .option("sinceNs", cutoff.toString).load(root)
      assert(pruned.count() == total - expectDeleted)
    }
  }

  test("pointer tier: compaction materializes vectors; append carries them") {
    withS3("dv-mat") { root =>
      val df = fixture().limit(2000).cache()
      val dates = df.select($"date").distinct().as[String].collect().sorted
      val (oldHalf, newHalf) =
        (df.filter($"date" < dates(dates.length / 2)),
          df.filter($"date" >= dates(dates.length / 2)))
      LogIngest.writeHive(oldHalf, root, partitionCols = parts)
      val c = DeleteVectors.deleteWhere(spark, root, delCond)
      assert(c.deletedRows == oldHalf.filter(delCond).count() && c.deletedRows > 0)
      val liveBefore = GraftStore.readStore(spark, root).count()

      // an append after the delete carries the sidecar: deleted rows stay dead
      val a = AppendCommit.commit(newHalf, root, parts)
      assert(a.version == 3)
      val afterAppend = GraftStore.readStore(spark, root)
      assert(afterAppend.count() == liveBefore + newHalf.count())
      assert(DeleteVectors.read(spark,
        s"$root/${GraftStore.versionPrefix(3)}").nonEmpty)

      // compaction reads vector-applied and rewrites clean: sidecar gone,
      // live rows unchanged, CDC across the commit is empty
      Compaction.compactHive(spark, root, partitionCols = parts, full = true)
      val cur = GraftStore.liveVersionOf(spark, root)
      assert(DeleteVectors.read(spark,
        s"$root/${GraftStore.versionPrefix(cur)}").isEmpty)
      val afterCompact = GraftStore.readStore(spark, root)
      assert(afterCompact.count() == liveBefore + newHalf.count())
      assert(afterCompact.filter($"date" < dates(dates.length / 2) && delCond).count() == 0)
      assert(GraftStore.rowDiff(spark, root, cur - 1, cur).isEmpty)
    }
  }

  test("local disk: deleteWhere + snapshot retention carry vectors") {
    val work = java.nio.file.Files.createTempDirectory("graft-dv-local")
    val root = work.resolve("lake").toString
    val df = fixture().limit(2000).cache()
    val dates = df.select($"date").distinct().as[String].collect().sorted
    LogIngest.writeHive(df, root, partitionCols = parts)
    assert(GraftStore.isPointerStore(spark, root))
    val total = df.count()
    val expectDeleted = df.filter(delCond).count()

    val c = DeleteVectors.deleteWhere(spark, root, delCond)
    assert(c.version == 2 && c.deletedRows == expectDeleted)
    assert(GraftStore.readStore(spark, root).count() == total - expectDeleted)
    // a physical read of the snapshot's files shows every stored row (the
    // sidecar is an engine-read contract); engine reads apply it
    assert(GraftStore.readVersionPhysical(spark, root, 2).count() == total)

    // snapshot retention drops the oldest date and carries survivor vectors
    Retention.enforceHive(spark, root, dates(1))
    val survivorsView = df.filter($"date" >= dates(1) && !delCond)
    val live = GraftStore.readStore(spark, root)
    assert(live.count() == survivorsView.count())
    assert(live.filter(delCond).count() == 0)
  }

  test("pointer tier: mergeByKey upserts in one commit") {
    withS3("dv-merge") { root =>
      val df = fixture().limit(1500).cache()
      LogIngest.writeHive(df, root, partitionCols = parts)
      val total = df.count()

      // updates: rewrite the message of ~1/9 of rows, plus brand-new rows
      val updKeys = df.filter(xxhash64($"message") % 9 === 0)
      val updated = updKeys.withColumn("message", concat(lit("UPD:"), $"message"))
      val fresh = df.orderBy($"time_ns").limit(10)
        .withColumn("time_ns", $"time_ns" + 1)
        .withColumn("message", lit("FRESH"))
      val updates = updated.unionByName(fresh)
      val matchedExpected = df.join(
        updates.select($"time_ns").distinct(), Seq("time_ns"), "left_semi").count()

      val m = DeleteVectors.mergeByKey(spark, root, updates,
        keyCols = Seq("time_ns"), partitionCols = parts, commitId = Some("m-1"))
      assert(!m.replayed && m.version == 2)
      assert(m.inserted == updates.count())
      assert(m.matchedDeleted == matchedExpected)

      val live = GraftStore.readStore(spark, root)
      assert(live.count() == total - matchedExpected + updates.count())
      // every matched key now carries ONLY its update row
      assert(live.join(updates.select($"time_ns").distinct(), Seq("time_ns"), "left_semi")
        .filter(!$"message".startsWith("UPD:") && $"message" =!= "FRESH").count() == 0)
      // exact multiset: survivors + updates
      val expected = df.join(updates.select($"time_ns").distinct(),
        Seq("time_ns"), "left_anti").unionByName(updates)
        .select(df.columns.map(col): _*)
      val liveCols = live.select(df.columns.map(col): _*)
      assert(liveCols.exceptAll(expected).isEmpty && expected.exceptAll(liveCols).isEmpty)

      // replay
      val m2 = DeleteVectors.mergeByKey(spark, root, updates,
        keyCols = Seq("time_ns"), partitionCols = parts, commitId = Some("m-1"))
      assert(m2.replayed && m2.version == 2)
    }
  }

  test("deleteMatching erases a strike list of keys") {
    val work = java.nio.file.Files.createTempDirectory("graft-dv-strike")
    val root = work.resolve("lake").toString
    val df = fixture().limit(1200).cache()
    LogIngest.writeHive(df, root, partitionCols = parts)
    val strike = df.filter(xxhash64($"message") % 13 === 0)
      .select($"time_ns", $"message")
    val expect = df.join(strike, Seq("time_ns", "message"), "left_semi").count()
    assert(expect > 0)
    val c = DeleteVectors.deleteMatching(spark, root, strike,
      keyCols = Seq("time_ns", "message"))
    assert(c.deletedRows == expect)
    val live = GraftStore.readStore(spark, root)
    assert(live.count() == df.count() - expect)
    assert(live.join(strike, Seq("time_ns", "message"), "left_semi").count() == 0)
  }

  test("vector application plans a scan-side FILTER, no join; vector-free reads pay nothing") {
    val work = java.nio.file.Files.createTempDirectory("graft-dv-plan")
    val root = work.resolve("lake").toString
    val df = fixture().limit(800).cache()
    LogIngest.writeHive(df, root, partitionCols = parts)
    // before any delete: the read plan carries no metadata columns, no filter
    val cleanPlan = GraftStore.readStore(spark, root)
      .queryExecution.executedPlan.toString()
    assert(!cleanPlan.contains(DeleteVectors.PosCol) && !cleanPlan.contains("Join"),
      s"vector-free read pays vector overhead:\n$cleanPlan")
    DeleteVectors.deleteWhere(spark, root, delCond)
    val dvRead = GraftStore.readStore(spark, root)
    val dvPlan = dvRead.queryExecution.executedPlan.toString()
    // the Delta-shape application: a per-file broadcast range table
    // consulted as a FILTER during the scan — no join operand, no shuffle,
    // no exploded positions anywhere in the plan
    assert(!dvPlan.contains("Join"),
      s"vector application must be a filter, not a join:\n$dvPlan")
    // the tag columns collapse into direct _metadata references, so the
    // filter shows as `Filter NOT dv_deleted(...file_path..., ...row_index)`
    // fused into the scan's whole-stage-codegen — assert that shape
    assert(dvPlan.contains("NOT dv_deleted") && dvPlan.contains("row_index"),
      s"vector filter missing from the read plan:\n$dvPlan")
    // the `*(n)` prefix marks whole-stage-codegen membership — the filter
    // must be fused, not fall back to interpreted eval
    assert(dvPlan.linesIterator.exists(l =>
      l.contains("Filter NOT dv_deleted") && l.trim.matches("""^[+\-:\s]*\*\(\d+\).*""")),
      s"vector filter must stay inside codegen:\n$dvPlan")
    assert(graft.plans.PlanScans.finalNodes(dvRead)
      .count(_.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeExec]) == 0,
      s"vector application must not shuffle the data side:\n$dvPlan")
  }

  test("a stale vector fails the read instead of resurrecting or mis-deleting rows") {
    val work = java.nio.file.Files.createTempDirectory("graft-dv-stale")
    val root = work.resolve("lake").toString
    val df = fixture().limit(500).cache()
    LogIngest.writeHive(df, root, partitionCols = parts)
    DeleteVectors.deleteWhere(spark, root, delCond)
    // corrupt: replace a vectored data file with different content/length,
    // keeping its name (a write outside the commit protocol)
    val cur = GraftStore.currentVersion(spark, root)
    val dv = DeleteVectors.read(spark, GraftStore.resolve(spark, root))
    assert(dv.nonEmpty)
    val key = dv.keySet.head
    // the live version carries the file by reference: replace it where it
    // physically lives
    val victim = java.nio.file.Paths.get(new org.apache.hadoop.fs.Path(
      GraftStore.compositeEntries(spark, root, cur).find(_.key == key).get.physical)
      .toUri.getPath)
    val clone = df.limit(3)
    val tmpOut = work.resolve("tmp-replace").toString
    clone.coalesce(1).write.mode("overwrite").parquet(tmpOut)
    val replacement = java.nio.file.Files.list(java.nio.file.Paths.get(tmpOut))
      .filter(p => p.getFileName.toString.endsWith(".parquet")).findFirst().get()
    java.nio.file.Files.copy(replacement, victim,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    val ex = intercept[Exception] {
      GraftStore.readStore(spark, root).count()
    }
    assert(ex.getMessage.contains("stale") || ex.getMessage.contains("length"),
      s"unexpected error: ${ex.getMessage}")
  }
}
