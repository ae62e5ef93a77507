package graft.logs

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Retention enforcement for the hive log store: drop whole `date=` partition
  * directories older than the cutoff. Deleting at partition-directory
  * granularity is a metadata operation per partition — no scan, no rewrite —
  * which is what makes retention tractable on a 100 TB store (the positional
  * layout gets the same effect by deleting `YYYY/MM/DD` prefixes).
  *
  * Two modes on versioned stores: [[enforceHive]] deletes in place inside
  * the live version (cheapest, but the live snapshot mutates under readers),
  * while [[enforceHiveSnapshot]] COMMITS the drop as a new version whose
  * manifest carries every surviving partition — still zero data
  * movement, but in-flight readers keep their complete snapshot and the
  * pre-retention view stays time-travelable until vacuumed.
  */
object Retention {

  /** Delete every `date=<d>` partition with `d < cutoffDate` (ISO yyyy-MM-dd;
    * string comparison is date order for this format). Returns the deleted
    * partition paths.
    */
  def enforceHive(spark: SparkSession, rawRoot: String, cutoffDate: String,
      convertStreamingStore: Boolean = false): Seq[String] = {
    val fs = new Path(rawRoot).getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new Path(rawRoot))) return Seq.empty
    // retention must not interleave with a compaction staging the same root
    // (it could delete partitions out of the tree being staged)
    MaintenanceLease.withLease(spark, rawRoot, "retention") {
      // and must not run over a crashed compaction either: its recovery
      // re-applies the verified pre-retention staging tree, which would
      // resurrect the partitions dropped here
      require(!fs.exists(new Path(rawRoot, "_compact-inflight")) &&
          !fs.exists(new Path(rawRoot + ".compact-inflight")),
        s"$rawRoot has an in-flight compaction marker — run compaction (recovery) first")
      enforceHeld(spark, rawRoot, cutoffDate, convertStreamingStore, fs)
    }
  }

  private def enforceHeld(spark: SparkSession, rawRoot: String, cutoffDate: String,
      convertStreamingStore: Boolean, fs: org.apache.hadoop.fs.FileSystem): Seq[String] = {
    // pointer stores: drop partitions inside the CURRENT version prefix
    // (partition-granularity delete, like the other tiers; snapshot-isolated
    // retention would stage a full copy — not worth O(store) writes to drop
    // a directory)
    val root = GraftStore.resolve(spark, rawRoot)
    // A store written by the STREAMING sink carries a _spark_metadata commit
    // log that lists every data file; deleting partitions under it would make
    // readers (which trust the log, not the listing) fail on missing files.
    // Opt-in conversion drops the log so the store becomes listing-based —
    // only safe while no streaming query is writing. The DELETE happens
    // below, after the all-expired guard: a refused run must not have
    // half-converted the store on its way to refusing.
    val sinkLog = new Path(root, "_spark_metadata")
    if (fs.exists(sinkLog)) {
      require(convertStreamingStore,
        s"$root was written by the streaming sink (_spark_metadata present); " +
          "pass convertStreamingStore=true to drop the commit log and enforce retention")
    }
    // layout: root/cluster=c/namespace=n/date=d/...
    val dateParts = for {
      cluster <- fs.listStatus(new Path(root)).toSeq if cluster.isDirectory
      ns <- fs.listStatus(cluster.getPath).toSeq if ns.isDirectory
      datePart <- fs.listStatus(ns.getPath).toSeq
      if datePart.getPath.getName.startsWith("date=")
    } yield datePart.getPath
    val (expiredParts, survivingParts) =
      dateParts.partition(p => p.getName.stripPrefix("date=") < cutoffDate)
    val manifest =
      if (GraftStore.isPointerStore(spark, rawRoot)) GraftStore.readManifest(spark, root)
      else Seq.empty
    val (manifestDrop, manifestKeep) =
      manifest.partition(e => relExpired(e._2, cutoffDate))
    // expiring EVERY partition would leave a dataless store whose reads all
    // fail (no schema to infer) — that is a store drop, not retention
    require(expiredParts.isEmpty && manifestDrop.isEmpty ||
        survivingParts.nonEmpty || manifestKeep.nonEmpty,
      s"retention cutoff $cutoffDate expires every partition of $rawRoot — " +
        "refusing to empty the store; drop the store explicitly instead")
    // every guard passed: the conversion (and the drops) may now commit
    if (fs.exists(sinkLog)) fs.delete(sinkLog, true)
    val deleted = Seq.newBuilder[String]
    // only count partitions the filesystem actually removed
    expiredParts.foreach { p => if (fs.delete(p, true)) deleted += p.toString }
    // partitions carried by manifest (incremental compaction) live in OLDER
    // version prefixes: dropping the manifest entry removes them from the
    // live view at metadata cost; their files go at the next commit or
    // vacuum that finds no retained snapshot reading them
    if (manifestDrop.nonEmpty) {
      GraftStore.writeManifest(spark, root, manifestKeep)
      manifestDrop.foreach { case (h, rel) =>
        deleted += s"$rawRoot/$h/$rel"
      }
    }
    // tidy the deletion-vector sidecar: vectors for dropped files are inert
    // on read, but pruning them keeps metadata-only accounting exact
    val dv = DeleteVectors.read(spark, root)
    if (dv.nonEmpty) {
      val liveKeys: Set[String] =
        if (GraftStore.isPointerStore(spark, rawRoot))
          GraftStore.compositeEntries(spark, rawRoot,
            GraftStore.currentVersion(spark, rawRoot)).map(_.key).toSet
        else FileStats.listDirEntries(spark, root).map(_.key).toSet
      DeleteVectors.write(spark, root, dv.filter { case (k, _) => liveKeys(k) })
    }
    deleted.result()
  }

  private def relExpired(rel: String, cutoffDate: String): Boolean =
    rel.split('/').exists(c =>
      c.startsWith("date=") && c.stripPrefix("date=") < cutoffDate)

  /** Snapshot-isolated retention on a VERSIONED store: instead of deleting
    * inside the live version, commit a NEW version that carries every
    * surviving partition by manifest reference and omits the expired ones
    * (the new prefix holds ONE data-free object, its manifest). Zero data
    * bytes move; the
    * pre-retention snapshot stays complete for in-flight readers and for
    * time travel, and is reclaimed by vacuum / the next commit like any
    * grace snapshot. This is the manifest layer doing for retention what it
    * does for compaction: a drop becomes an O(partitions) metadata commit.
    *
    * Returns the dropped partition paths (their physical, pre-retention
    * locations). Refuses plain unversioned roots — use [[enforceHive]].
    */
  def enforceHiveSnapshot(spark: SparkSession, rawRoot: String,
      cutoffDate: String, convertStreamingStore: Boolean = false): Seq[String] = {
    val fs = new Path(rawRoot).getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new Path(rawRoot))) return Seq.empty
    require(GraftStore.isPointerStore(spark, rawRoot),
      s"$rawRoot is not a versioned store; snapshot-isolated retention " +
        "needs a version commit primitive — use enforceHive for plain roots")
    MaintenanceLease.withLease(spark, rawRoot, "retention") {
      // a compaction marker certifies a staged version pending recovery; a
      // retention commit over it would be silently REVERTED by that recovery
      // (which re-promotes the pre-retention tree), resurrecting expired data
      require(!fs.exists(new Path(rawRoot, "_compact-inflight")),
        s"$rawRoot has an in-flight compaction marker — run compaction (recovery) first")
      // mirror enforceHive's streaming-sink guard: the new version carries
      // only partition data, so a live streaming writer's commit log would
      // be silently orphaned without this explicit opt-in
      val sinkLog = new Path(GraftStore.resolve(spark, rawRoot), "_spark_metadata")
      if (fs.exists(sinkLog)) {
        require(convertStreamingStore,
          s"$rawRoot was written by the streaming sink (_spark_metadata present); " +
            "stop the streaming query and pass convertStreamingStore=true — the " +
            "snapshot commit converts the store to listing-based")
      }
      snapshotCommit(spark, rawRoot, cutoffDate, fs)
    }
  }

  /** date-level partition inventory (cluster/namespace/date = 3 levels) of a
    * version's OWN directory.
    */
  private def ownDateLeaves(fs: org.apache.hadoop.fs.FileSystem, dir: String) =
    Compaction.partitionLeaves(fs, new Path(dir), 3)

  private def snapshotCommit(spark: SparkSession, root: String,
      cutoffDate: String, fs: org.apache.hadoop.fs.FileSystem): Seq[String] = {
    val cur = GraftStore.currentVersion(spark, root)
    // markerless version prefixes ahead of the pointer are debris from a
    // crashed stage; sweep them so the manifest-only commit below can't
    // land beside stale data files
    GraftStore.listVersions(spark, root).filter(_ > cur).foreach { n =>
      fs.delete(new Path(root, GraftStore.versionPrefix(n)), true)
    }
    val curDir = s"$root/${GraftStore.versionPrefix(cur)}"
    // composite inventory: own date dirs chain as (cur, rel); carried ones
    // keep pointing at the version that physically holds them
    val own = ownDateLeaves(fs, curDir)
      .map { case (rel, _) => (GraftStore.versionPrefix(cur), rel) }
    val carried = GraftStore.readManifest(spark, curDir)
    val (expired, survivors) = (own ++ carried).partition(e => relExpired(e._2, cutoffDate))
    if (expired.isEmpty) return Seq.empty
    // a dataless live version would fail every subsequent read (no schema
    // to infer) — expiring EVERYTHING is a store drop, not retention
    require(survivors.nonEmpty,
      s"retention cutoff $cutoffDate expires every partition of $root — " +
        "refusing to commit an empty store; drop the store explicitly instead")
    // stats-backed counts when the sidecar fully covers the snapshots
    // (metadata reads); footer-count fallback otherwise. PHYSICAL on both
    // sides: expiredRowCount is a footer count, and survivor deletion
    // vectors carry unchanged so they cancel out of the comparison.
    val expectedRows = FileStats.rowCountFromStats(spark, root, cur)
      .getOrElse(GraftStore.readVersionPhysical(spark, root, cur).count()) -
      expiredRowCount(spark, root, expired)
    val next = cur + 1
    val nextDir = s"$root/${GraftStore.versionPrefix(next)}"
    // the new version holds exactly ONE object — its manifest; every
    // surviving partition is a reference, every expired one is absent
    GraftStore.writeManifest(spark, nextDir, survivors.sortBy(e => (e._2, e._1)))
    GraftStore.carrySchemaOverlay(spark, curDir, nextDir)
    // survivors are carried by reference: stats are pure line-reuse, zero
    // footer I/O — a retention commit's stats cost is O(metadata). Written
    // before the staged verify, which they accelerate. Deletion vectors of
    // surviving files carry too; vectors of expired files drop with them.
    val nextEntries = GraftStore.compositeEntries(spark, root, next)
    DeleteVectors.carryInto(spark, curDir, nextDir, nextEntries.map(_.key).toSet)
    FileStats.refreshInto(spark, nextDir, nextEntries,
      FileStats.read(spark, curDir))
    val staged = FileStats.rowCountFromStats(spark, root, next)
      .getOrElse(GraftStore.readVersionPhysical(spark, root, next).count())
    require(staged == expectedRows,
      s"snapshot retention staged $staged rows, expected $expectedRows; " +
        s"aborting with $curDir live")
    GraftStore.writeCommitInfo(spark, nextDir, GraftStore.CommitInfo(
      "retention", java.util.UUID.randomUUID().toString, System.currentTimeMillis()))
    // compare-and-swap on conditional-write stores (see casWritePointer)
    if (!GraftStore.casWritePointer(spark, root, cur, next))
      throw new IllegalStateException(
        s"concurrent commit detected on $root during retention publish " +
          s"(expected v$cur live); $nextDir staged — re-run retention")
    // grace contract: keep the replaced snapshot; the expired partitions'
    // bytes go once no retained snapshot reads them
    GraftStore.reclaim(spark, root, Set(cur, next))
    expired.map { case (h, rel) => s"$root/$h/$rel" }
  }

  private def expiredRowCount(spark: SparkSession, root: String,
      expired: Seq[(String, String)]): Long =
    expired.groupBy(_._1).map { case (h, es) =>
      val vdir = s"$root/$h"
      spark.read.option("basePath", vdir)
        .parquet(es.map(e => s"$vdir/${e._2}"): _*).count() // footer-only
    }.sum
}
