package graft.logs

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Retention enforcement for the hive log store: drop whole `date=`
  * partitions older than the cutoff. The drop is a version COMMIT: the new
  * version's manifest carries every surviving partition by reference and
  * omits the expired ones, so the new prefix holds one data-free object
  * (its manifest) and one CAS pointer flip publishes it. No scan, no
  * rewrite, no per-object delete inside the live version — which is what
  * makes retention tractable on a 100 TB store, and atomic on object
  * stores, where deleting a partition in place costs a request per object
  * and readers would see it half gone. In-flight readers keep their
  * complete snapshot, the pre-retention view stays time-travelable, and the
  * expired partitions' bytes go once no retained snapshot reads them
  * ([[GraftStore.reclaim]]), like any grace snapshot.
  */
object Retention {

  /** Commit the drop of every `date=<d>` partition with `d < cutoffDate`
    * (ISO yyyy-MM-dd; string comparison is date order for this format).
    * Returns the dropped partition paths (their physical, pre-retention
    * locations); nothing to drop commits nothing. A directory that is not
    * a store is refused ([[GraftStore.requireStore]]) before anything is
    * touched.
    */
  def enforceHive(spark: SparkSession, root: String,
      cutoffDate: String): Seq[String] = {
    GraftStore.requireStore(spark, root)
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // retention must not interleave with a compaction staging the same root
    MaintenanceLease.withLease(spark, root, "retention") {
      // a compaction marker certifies a staged version pending recovery; a
      // retention commit over it would be silently REVERTED by that recovery
      // (which re-promotes the pre-retention tree), resurrecting expired data
      require(!fs.exists(new Path(root, "_compact-inflight")),
        s"$root has an in-flight compaction marker — run compaction (recovery) first")
      snapshotCommit(spark, root, cutoffDate, fs)
    }
  }

  private def relExpired(rel: String, cutoffDate: String): Boolean =
    rel.split('/').exists(c =>
      c.startsWith("date=") && c.stripPrefix("date=") < cutoffDate)

  private def snapshotCommit(spark: SparkSession, root: String,
      cutoffDate: String, fs: org.apache.hadoop.fs.FileSystem): Seq[String] = {
    val cur = GraftStore.currentVersion(spark, root)
    // markerless version prefixes ahead of the pointer are debris from a
    // crashed stage; sweep them so the manifest-only commit below can't
    // land beside stale data files
    GraftStore.listVersions(spark, root).filter(_ > cur).foreach { n =>
      fs.delete(new Path(root, GraftStore.versionPrefix(n)), true)
    }
    val curPrefix = GraftStore.versionPrefix(cur)
    val curDir = s"$root/$curPrefix"
    // composite inventory from one listing: own date dirs
    // (cluster/namespace/date = 3 levels) chain as (cur, rel); carried ones
    // keep pointing at the holder that physically holds them
    val curEntries = GraftStore.compositeEntries(spark, root, cur)
    val own = Compaction.leavesOf(curEntries.filter(_.legBase == curDir).map(_.key), 3)
      .map(rel => (curPrefix, rel))
    val carried = GraftStore.readManifest(spark, curDir)
    val (expired, survivors) = (own ++ carried).partition(e => relExpired(e._2, cutoffDate))
    if (expired.isEmpty) return Seq.empty
    // a dataless live version would fail every subsequent read (no schema
    // to infer) — expiring EVERYTHING is a store drop, not retention
    require(survivors.nonEmpty,
      s"retention cutoff $cutoffDate expires every partition of $root — " +
        "refusing to commit an empty store; drop the store explicitly instead")
    // the live rows minus the expired partitions' rows, PHYSICAL on both
    // sides (survivor deletion vectors carry unchanged, so they cancel out
    // of the check), counted over the listing already held
    val dropped = expired.map { case (h, rel) => (s"$root/$h", rel) }.toSet
    val kept = curEntries.filterNot { e =>
      val dirs = e.key.stripPrefix("/").split('/').dropRight(1)
      dirs.indices.exists(i => dropped((e.legBase, dirs.take(i + 1).mkString("/"))))
    }
    val expectedRows = FileStats.physicalRows(spark, root, cur, kept)
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
    val staged = FileStats.physicalRows(spark, root, next, nextEntries)
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
}
