package graft.logs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}

/** Small-files compaction (SURVEY §7.8): the reference's 1 MB-object design
  * (`total_file_size 1M`, fluent-bit.conf:42) produces ~10⁸ objects at
  * 100 TB; scan efficiency needs periodic rewrite into scan-sized files.
  *
  * INCREMENTAL since round 6: a commit rewrites ONLY the dirty partitions
  * (more than `dirtyMaxFiles` files, or multiple files averaging under
  * `dirtyMinAvgBytes`) and carries every untouched partition into the next
  * version without data I/O — so maintenance cost is proportional to dirty
  * data, not store size, which is the difference between "correct at sf1"
  * and "operable at 100 TB" (the same economics as Delta/Iceberg OPTIMIZE).
  * An untouched partition is carried by REFERENCE: a `_graft_manifest`
  * beside the new version's data maps it to the version prefix that
  * physically holds it ([[GraftStore.readManifest]]); zero bytes move.
  *
  * Rewritten partitions are `sortWithinPartitions(time_ns)` (when present),
  * matching the finalize path (StreamFinalize.scala:142): near-disjoint
  * row-group time ranges keep the engine's `--since` row-group pruning
  * effective after compaction destroys ingest order.
  *
  * Commit protocol: stage the rewritten partitions under the next version
  * prefix, then flip `_current` with ONE atomic write (no rename on object
  * stores) — snapshot-isolated, like every store change.
  *
  * Crash safety: an in-flight marker (holding the expected TOTAL row count)
  * brackets the flip; recovery finishes the staged version. Mutual
  * exclusion: the whole operation holds the root's [[MaintenanceLease]],
  * so two compactors (or compaction racing retention or vacuum) cannot
  * interleave — the loser aborts before touching anything.
  *
  * WRITERS are a separate discipline: appends land in the live version
  * directory, so rows appended after this job's inventory but before its
  * pointer flip could survive only in the grace snapshot, not the new live
  * tree. Like Delta/Iceberg OPTIMIZE under optimistic concurrency, the
  * commit DETECTS this instead of assuming it away: immediately before the
  * marker/flip it re-inventories the dirty partitions and the live
  * version's partition-dir set (a brand-new partition would miss the carry
  * manifest) and ABORTS cleanly on any change — staged data is removed,
  * the live tree is untouched, and the writer's rows are safe. Appends to
  * partitions carried BY REFERENCE are no conflict at all: the new version
  * lists the same physical directory, so the appended files stay visible.
  */
/** How a compaction rewrite orders rows inside each rewritten partition. */
sealed trait ClusterSpec
object ClusterSpec {
  /** `time_ns` ascending (default): near-disjoint row-group time ranges,
    * best for the dominant `--since` range probe.
    */
  case object TimeMajor extends ClusterSpec
  /** Lexicographic by the given columns (e.g. `pod, time_ns`): the leading
    * column gets the narrowest per-row-group ranges; later columns stay
    * ordered within it.
    */
  final case class Lexicographic(cols: Seq[String]) extends ClusterSpec
  /** Morton-interleaved over the given columns: balanced stat narrowing
    * across all of them when no single probe dominates.
    */
  final case class ZOrder(cols: Seq[String]) extends ClusterSpec
  /** Hash-bucketed on `key` into `buckets` files per partition dir, rows
    * sorted by `key` within each bucket file — the STORE-level layout for a
    * dominant large-×-large join: `format("graft")` reads the rewritten
    * snapshot with a [[org.apache.spark.sql.catalyst.catalog.BucketSpec]]
    * (validated against the file names, see
    * [[graft.logs.GraftStore.readBucketSpec]]), so joins and aggregates on
    * `key` plan WITHOUT a shuffle exchange — the co-location is paid once
    * at maintenance time, not per query. The spec sidecar is fail-open: any
    * snapshot file without a parseable bucket id (a later plain append, a
    * partition carried from an unbucketed version) silently disables it and
    * the store reads like any other.
    */
  final case class BucketBy(key: String, buckets: Int) extends ClusterSpec
}

object Compaction {

  /** Compact the store at `root`; a directory that is not a store is
    * refused ([[GraftStore.requireStore]]) before anything is touched.
    */
  def compactHive(spark: SparkSession, root: String,
      maxRecordsPerFile: Long = 4000000L,
      partitionCols: Seq[String] = LogSchema.hivePartitionColumns,
      dirtyMaxFiles: Int = 4,
      dirtyMinAvgBytes: Long = 32L << 20,
      full: Boolean = false,
      retainSnapshots: Int = 1,
      cluster: ClusterSpec = ClusterSpec.TimeMajor): Unit = {
    GraftStore.requireStore(spark, root)
    MaintenanceLease.withLease(spark, root, "compact") {
      // keep partition dir names byte-identical: type inference would read
      // 'hour=00' back as int 0 and rewrite the dir as 'hour=0', forking
      // the partition from future string-valued appends. Scoped to a
      // CLONED session (ConfScope) — flipping the shared session's conf
      // would disable the metadata-only planner tier for every concurrent
      // query for the duration of the rewrite (the round-14 bench failure).
      graft.ConfScope.withSessionConf(spark,
        "spark.sql.sources.partitionColumnTypeInference.enabled" -> "false") { s =>
        compactOn(s, root, maxRecordsPerFile, partitionCols, dirtyMaxFiles,
          dirtyMinAvgBytes, full, retainSnapshots, cluster)
      }
    }
  }

  /** A partition needs rewrite when its file count exceeds `dirtyMaxFiles`,
    * or it holds several files averaging under `dirtyMinAvgBytes`. A
    * single-file partition is never dirty — rewriting it buys nothing.
    */
  private def isDirty(files: Seq[FileStatus], dirtyMaxFiles: Int,
      dirtyMinAvgBytes: Long): Boolean = {
    val n = files.size
    n > dirtyMaxFiles || (n > 1 && files.map(_.getLen).sum / n < dirtyMinAvgBytes)
  }

  /** The one data-moving step: shuffle the dirty rows onto their partition
    * keys (one task per output partition; AQE coalesces small ones) and
    * sort within tasks by the partition prefix + the clustering key, so
    * every rewritten file has narrow row-group stats on the clustered
    * columns — the explicit sort also satisfies the dynamic-partition
    * writer's required ordering, so Spark adds no second sort of its own.
    *
    * The clustering key is a maintenance knob ([[ClusterSpec]]):
    * time-major by default (near-disjoint `time_ns` row groups — `--since`
    * pruning), selector-major lexicographic (e.g. `pod, time_ns`: pod
    * equality prunes via narrow per-row-group pod ranges AND each pod's
    * rows stay time-ordered), or z-order interleaved (balanced pruning on
    * several dimensions at once when no single probe dominates).
    */
  private def rewrite(input: DataFrame, partitionCols: Seq[String],
      maxRecordsPerFile: Long, dest: String,
      cluster: ClusterSpec = ClusterSpec.TimeMajor): Unit = {
    cluster match {
      case ClusterSpec.BucketBy(key, buckets) =>
        rewriteBucketed(input, partitionCols, maxRecordsPerFile, dest, key, buckets)
        return
      case _ =>
    }
    val sortKey: Seq[org.apache.spark.sql.Column] = cluster match {
      case ClusterSpec.TimeMajor =>
        Seq("time_ns").filter(input.columns.contains).map(col)
      case ClusterSpec.Lexicographic(cols) =>
        cols.map(col)
      case ClusterSpec.ZOrder(cols) =>
        // bounds for integral dims come from one bounded agg over the data
        // being rewritten — the same measure-then-encode shape Delta uses
        val schema = input.schema
        val dims = cols.map(c => (col(c), schema(c).dataType))
        val numeric = cols.filter(c =>
          schema(c).dataType != org.apache.spark.sql.types.StringType)
        val stats: Map[String, (Long, Long)] =
          if (numeric.isEmpty) Map.empty
          else {
            val row = input.agg(
              numeric.flatMap(c => Seq(min(col(c)).cast("long"),
                max(col(c)).cast("long"))).head,
              numeric.flatMap(c => Seq(min(col(c)).cast("long"),
                max(col(c)).cast("long"))).tail: _*).head()
            numeric.zipWithIndex.map { case (c, i) =>
              val mn = if (row.isNullAt(2 * i)) 0L else row.getLong(2 * i)
              val mx = if (row.isNullAt(2 * i + 1)) 0L else row.getLong(2 * i + 1)
              (c, (mn, mx))
            }.toMap
          }
        val bounds = cols.map(c => stats.getOrElse(c, (0L, 0L)))
        Seq(graft.expr.ZOrderFunctions.zorder64(dims, bounds))
    }
    input
      .repartition(partitionCols.map(col): _*)
      .sortWithinPartitions((partitionCols.map(col) ++ sortKey): _*)
      .write
      .partitionBy(partitionCols: _*)
      .option("maxRecordsPerFile", maxRecordsPerFile)
      // rewrites preserve the write path's physical contracts: selector-
      // column bloom filters survive compaction like the clustering sort
      .options(LogSchema.parquetBloomOptions)
      .mode("overwrite")
      .parquet(dest)
  }

  /** Bucketed rewrite ([[ClusterSpec.BucketBy]]): Spark's bucketed-table
    * writer is the only code path that names files with the bucket-id
    * suffix the scan's parser recognizes, and it is catalog-routed — so the
    * rewrite registers a throwaway EXTERNAL table at `dest` under a unique
    * name and drops it immediately (the files stay; only the catalog entry
    * goes). The pre-write `repartition(buckets, key)` maps each bucket to
    * exactly one task (`HashPartitioning.partitionIdExpression` is the same
    * `pmod(murmur3, n)` the bucket id uses), so every (partition dir,
    * bucket) is one file and the write adds no extra sort pass beyond the
    * per-file `sortBy`. The `_graft_bucketspec` sidecar committed beside
    * the data is what `format("graft")` validates and honors.
    */
  private def rewriteBucketed(input: DataFrame, partitionCols: Seq[String],
      maxRecordsPerFile: Long, dest: String, key: String, buckets: Int): Unit = {
    val spark = input.sparkSession
    val tmp = s"graft_bucket_rewrite_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    try {
      input
        .repartition(buckets, col(key))
        .write
        .partitionBy(partitionCols: _*)
        .bucketBy(buckets, key)
        .sortBy(key)
        .option("path", dest)
        .option("maxRecordsPerFile", maxRecordsPerFile)
        .options(LogSchema.parquetBloomOptions)
        .mode("overwrite")
        .saveAsTable(tmp)
    } finally spark.sql(s"DROP TABLE IF EXISTS $tmp")
  }

  /** Commit the `_graft_bucketspec` claim for a staged snapshot — but only
    * when it is TRUE of every file the snapshot will hold: either nothing
    * was carried (full bucketed rewrite), or the carried files came from a
    * version claiming the SAME (key, buckets) — files bucketed under a
    * different modulus carry parseable ids that mean the wrong thing, and a
    * name-level check cannot tell (`pmod(hash, 8)` vs `pmod(hash, 16)` both
    * name `_00003`), so the claim must be provenance-gated here, not
    * validated away on the read side.
    */
  private def commitBucketSpec(spark: SparkSession, cluster: ClusterSpec,
      priorDir: String, destDir: String, anyCarried: Boolean): Unit =
    cluster match {
      case ClusterSpec.BucketBy(key, buckets) =>
        if (!anyCarried ||
            GraftStore.readBucketSpec(spark, priorDir).contains((key, buckets)))
          GraftStore.writeBucketSpec(spark, destDir, key, buckets)
      case _ =>
    }

  private[logs] def visible(n: String) = GraftStore.visibleName(n)

  /** Test seam: runs after staging is verified, immediately before the
    * concurrent-writer re-inventory — the only way to deterministically
    * exercise the conflict window in a spec.
    */
  private[graft] var onBeforeCommit: () => Unit = () => ()

  /** Identity of a file set for conflict detection: path + length + mtime.
    * An append, replace, or delete by a concurrent writer changes the set;
    * source files this job never touches keep theirs.
    */
  private def fileIdentity(files: Seq[FileStatus]): Set[(String, Long, Long)] =
    files.map(f => (f.getPath.toString, f.getLen, f.getModificationTime)).toSet

  private[logs] def dataFilesUnder(fs: FileSystem, dir: Path): Seq[FileStatus] =
    if (!fs.exists(dir)) Seq.empty
    else GraftStore.walkFiles(fs, dir, dataOnly = true).toSeq

  /** Partition dirs at exactly `depth` `col=` levels below `root`, each with
    * ALL data files recursively below it. Dirtiness and swapping operate at
    * the REWRITE granularity (`partitionCols.length`), not at the deepest
    * physical level: a store laid out deeper than the rewrite key (e.g.
    * hour= under date= when compacting to date) must treat the whole
    * rewrite-level dir as one unit, or an incremental swap would replace a
    * populated subtree with a partial one.
    */
  private[logs] def partitionLeaves(fs: FileSystem, root: Path,
      depth: Int): Seq[(String, Seq[FileStatus])] = {
    def walk(dir: Path, rel: String, d: Int): Seq[(String, Seq[FileStatus])] =
      if (d == 0) {
        val fl = dataFilesUnder(fs, dir)
        if (fl.nonEmpty) Seq((rel, fl)) else Seq.empty
      } else fs.listStatus(dir).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.contains("=") &&
          visible(s.getPath.getName))
        .flatMap(s => walk(s.getPath,
          if (rel.isEmpty) s.getPath.getName else s"$rel/${s.getPath.getName}", d - 1))
    if (!fs.exists(root)) Seq.empty else walk(root, "", depth)
  }

  /** The [[partitionLeaves]] names for already-listed files, from their
    * dir-relative keys (`/k=v/k2=v2/part-….parquet`) and with no listing:
    * the distinct `depth`-level `col=` dirs that hold a file, sorted.
    */
  private[logs] def leavesOf(keys: Seq[String], depth: Int): Seq[String] =
    keys.flatMap { k =>
      val segs = k.stripPrefix("/").split('/')
      if (segs.length > depth && segs.take(depth).forall(_.contains("=")))
        Some(segs.take(depth).mkString("/"))
      else None
    }.distinct.sorted

  /** Stage ONLY the dirty partitions under the NEXT version prefix —
    * readers only ever list the pointed-at prefix, so staging is invisible
    * — write the carried-partition manifest beside them, verify the
    * composite, persist the marker, then commit by overwriting `_current`
    * with ONE atomic write. No data rename anywhere, which is what object
    * stores (rename = copy+delete, non-atomic) require. Carried partitions
    * chain to the version that PHYSICALLY holds them (an entry carried
    * across N commits still names its original prefix), and cleanup keeps
    * every partition a retained snapshot reads.
    */
  private def compactOn(spark: SparkSession, root: String,
      maxRecordsPerFile: Long, partitionCols: Seq[String],
      dirtyMaxFiles: Int, dirtyMinAvgBytes: Long, full: Boolean,
      retainSnapshots: Int, cluster: ClusterSpec): Unit = {
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker = new Path(root, "_compact-inflight")
    locally {
      if (fs.exists(marker)) {
        // marker certifies the newest version prefix is a verified complete
        // snapshot (data + manifest): finish the flip, re-verify, clean up
        val expected = readMarker(fs, marker)
        val prev = GraftStore.currentVersion(spark, root)
        val newest = GraftStore.listVersions(spark, root).max
        if (newest > prev) GraftStore.writePointer(spark, root, newest)
        val liveRows = GraftStore.scanCount(GraftStore.readStore(spark, root))
        require(liveRows == expected,
          s"recovered count $liveRows != expected $expected — inspect $root")
        fs.delete(marker, false)
        cleanupPointer(spark, root, retainSnapshots)
        return
      }
      // version prefixes AHEAD of the pointer without a marker are debris
      // from an attempt that died mid-stage; versions BEHIND it are grace
      // snapshots for in-flight readers and die only at commit below
      val cur = GraftStore.currentVersion(spark, root)
      GraftStore.listVersions(spark, root).filter(_ > cur).foreach { n =>
        fs.delete(new Path(root, GraftStore.versionPrefix(n)), true)
      }
      val curDir = s"$root/${GraftStore.versionPrefix(cur)}"
      // composite partition inventory: the current prefix's own leaves plus
      // everything its manifest carries; a partition can span both (appends
      // after a carry), in which case its file set is the union
      val depth = partitionCols.length
      val curPrefix = GraftStore.versionPrefix(cur)
      val own = partitionLeaves(fs, new Path(curDir), depth)
        .map { case (rel, fls) => (rel, curPrefix, fls) }
      val carried = GraftStore.readManifest(spark, curDir).map { case (h, rel) =>
        (rel, h, dataFilesUnder(fs, new Path(s"$root/$h/$rel")))
      }
      val byRel = (own ++ carried).groupBy(_._1)
      // deletion vectors ([[DeleteVectors]]): rewritten partitions read
      // vector-APPLIED and come out clean (materialization); carried files
      // keep their vectors. All counts below are in vector-applied terms so
      // the marker/recovery invariant stays "the live row count is
      // unchanged" whether or not vectors exist.
      val curEntries = GraftStore.compositeEntries(spark, root, cur)
      val curKeys = curEntries.map(_.key).toSet
      val dvCur = DeleteVectors.read(spark, curDir).filter { case (k, _) => curKeys(k) }
      // a partition holding vectored files is worth rewriting even when its
      // file count looks healthy: materialization retires the read-side
      // anti-join debt (Delta's OPTIMIZE-applies-DVs contract)
      val dvRels = dvCur.keySet.map { k =>
        val segs = k.split('/').filter(_.nonEmpty)
        segs.take(depth).mkString("/")
      }
      val dirtyRels = byRel.collect { case (rel, legs)
        if full || dvRels(rel) ||
          isDirty(legs.flatMap(_._3), dirtyMaxFiles, dirtyMinAvgBytes) => rel
      }.toSet
      if (dirtyRels.isEmpty) return // every partition already compact
      // stats-backed when the sidecar fully covers the snapshot (metadata
      // reads, not 10⁸ footer opens); footer-count fallback otherwise
      val expectedRows = FileStats.rowCountFromStats(spark, root, cur)
        .map(_ - DeleteVectors.totalPositions(dvCur))
        .getOrElse(GraftStore.readVersion(spark, root, cur).count())
      val next = cur + 1
      val nextDir = s"$root/${GraftStore.versionPrefix(next)}"
      // read ONLY the dirty partitions, one leg per version prefix that
      // physically holds some of them
      // overlay-aware legs: pre-evolution files null-backfill the evolved
      // columns, so the rewrite MATERIALIZES them — the overlay shrinks to
      // irrelevance as maintenance touches partitions
      // Spark's own reader, not the snapshot relation: under this session's
      // inference-off conf partition values read as their directory strings,
      // so rewritten dirs keep byte-identical names (`hour=07`), where the
      // manifest-typed relation would read 7 and write `hour=7`
      val overlay = GraftStore.readSchemaOverlay(spark, curDir)
      val inputRaw = byRel.filter(e => dirtyRels(e._1)).values.flatten.toSeq
        .groupBy(_._2).toSeq.sortBy(_._1)
        .map { case (h, legs) =>
          val vdir = s"$root/$h"
          val r = spark.read.option("basePath", vdir)
          val r2 = if (overlay.nonEmpty) r.option("mergeSchema", "true") else r
          val df0 = r2.parquet(legs.map(l => s"$vdir/${l._1}"): _*)
          GraftStore.applyOverlay(
            if (dvCur.nonEmpty) DeleteVectors.tagMeta(df0) else df0, overlay)
        }
        .reduce(_.unionByName(_))
      // vector-applied input: the rewrite writes the dirty partitions CLEAN
      // (vectors for files outside the dirty set are inert — no row matches)
      val input =
        if (dvCur.nonEmpty) DeleteVectors.applyTo(spark, inputRaw, dvCur, curEntries)
        else inputRaw
      rewrite(input, partitionCols, maxRecordsPerFile, nextDir, cluster)
      GraftStore.carrySchemaOverlay(spark, curDir, nextDir)
      // carry every untouched partition by reference, chained to the holder
      // (version prefix or staged-append dir) that physically holds its
      // files — zero data movement
      val carryEntries = byRel.filter(e => !dirtyRels(e._1)).values.flatten.toSeq
        .collect { case (rel, h, fls) if fls.nonEmpty => (h, rel) }
        .sortBy(e => (e._2, e._1))
      if (carryEntries.nonEmpty)
        GraftStore.writeManifest(spark, nextDir, carryEntries)
      commitBucketSpec(spark, cluster, priorDir = curDir, destDir = nextDir,
        anyCarried = carryEntries.nonEmpty)
      // per-file pruning stats ([[FileStats]]), O(delta): carried partitions
      // reuse the predecessor's lines by (key, len); only the rewritten
      // files are footer-read. Written before the staged verify (which they
      // accelerate) and pre-flip, so stats publish with the snapshot.
      val nextEntries = GraftStore.compositeEntries(spark, root, next)
      // rewritten files shed their vectors (materialized above); carried
      // files keep theirs — filter the sidecar to keys still in the snapshot
      val dvNext = DeleteVectors.carryInto(spark, curDir, nextDir,
        nextEntries.map(_.key).toSet)
      FileStats.refreshInto(spark, nextDir, nextEntries,
        FileStats.read(spark, curDir))
      val stagedRows = FileStats.rowCountFromStats(spark, root, next)
        .map(_ - DeleteVectors.totalPositions(dvNext))
        .getOrElse(GraftStore.readVersion(spark, root, next).count())
      require(stagedRows == expectedRows,
        s"staged snapshot holds $stagedRows rows, expected $expectedRows; " +
          s"aborting with $curDir live")
      onBeforeCommit()
      // Optimistic concurrency: the staged snapshot fixes (a) the dirty
      // partitions' contents and (b) the carry manifest's partition-dir
      // set, both as of inventory time. A writer can only land in the live
      // prefix, so conflicts are: new files under a dirty partition, or a
      // NEW own-partition dir (brand-new partition, or the first live-
      // prefix files of a partition previously held only by reference) —
      // either would vanish from the flipped snapshot. Appends to a
      // partition dir the manifest carries are NOT conflicts: the new
      // version lists that same physical dir, so the files stay visible.
      // Abort BEFORE the marker — the staged prefix is markerless debris
      // the next run sweeps; nothing live moved.
      val ownNowByRel = partitionLeaves(fs, new Path(curDir), depth).toMap
      val newOwnRels = ownNowByRel.keySet -- own.map(_._1).toSet
      val dirtyChanged = dirtyRels.filter { rel =>
        val before = fileIdentity(byRel(rel).flatMap(_._3))
        val carriedNow = byRel(rel).collect { case (r, h, _) if h != curPrefix =>
          dataFilesUnder(fs, new Path(s"$root/$h/$r"))
        }.flatten
        before != fileIdentity(ownNowByRel.getOrElse(rel, Seq.empty) ++ carriedNow)
      }
      if (newOwnRels.nonEmpty || dirtyChanged.nonEmpty) {
        fs.delete(new Path(nextDir), true)
        throw new IllegalStateException(
          s"concurrent writer detected on $root during compaction " +
            s"(new partitions: [${newOwnRels.mkString(",")}], changed: " +
            s"[${dirtyChanged.mkString(",")}]); staged version removed, " +
            "live store untouched — re-run compaction after the writer " +
            "finishes (maintenance aborts on a racing writer, never loses rows)")
      }
      GraftStore.writeCommitInfo(spark, nextDir, GraftStore.CommitInfo(
        "compact", java.util.UUID.randomUUID().toString, System.currentTimeMillis()))
      // pre-flight re-check before the marker lands (a racing commit's
      // flip would also have swept this staged prefix)
      if (GraftStore.currentVersion(spark, root) != cur) {
        fs.delete(new Path(nextDir), true)
        throw new IllegalStateException(
          s"concurrent commit detected on $root during compaction publish " +
            s"(expected v$cur live); staged version removed — re-run compaction")
      }
      writeMarker(fs, marker, expectedRows)
      // THE commit: compare-and-swap where the store supports conditional
      // writes, re-check + plain PUT elsewhere (see casWritePointer)
      if (!GraftStore.casWritePointer(spark, root, cur, next)) {
        fs.delete(marker, false)
        fs.delete(new Path(nextDir), true)
        throw new IllegalStateException(
          s"concurrent commit detected on $root during compaction publish " +
            s"(expected v$cur live); staged version removed — re-run compaction")
      }
      val liveRows = GraftStore.scanCount(GraftStore.readStore(spark, root))
      require(liveRows == expectedRows,
        s"post-commit count $liveRows != expected $expectedRows — inspect $root")
      fs.delete(marker, false)
      cleanupPointer(spark, root, retainSnapshots)
    }
  }

  /** Reclaim after a pointer commit: keep the live version and the newest
    * `retainSnapshots` versions below it (grace snapshots for in-flight
    * readers / time travel); the replaced small files go once no retained
    * snapshot reads them ([[GraftStore.reclaim]]).
    */
  private def cleanupPointer(spark: SparkSession, root: String,
      retainSnapshots: Int): Unit = {
    val live = GraftStore.currentVersion(spark, root)
    val versions = GraftStore.listVersions(spark, root)
    GraftStore.reclaim(spark, root,
      versions.filter(_ < live).takeRight(retainSnapshots).toSet + live)
    // compaction absorbs append-dir files into version prefixes; once no
    // retained snapshot references a staged dir it is reclaimable (the 24 h
    // age guard protects writers staging concurrently with this commit)
    GraftStore.sweepOrphanAppendDirs(spark, root, 24L * 3600 * 1000)
  }

  /** Atomic marker write (temp + rename): a torn marker would wedge every
    * future run inside the recovery branch.
    */
  private def writeMarker(fs: FileSystem, marker: Path, rows: Long): Unit = {
    val tmp = new Path(marker.getParent, marker.getName + ".tmp")
    val out = fs.create(tmp, true)
    try out.write(rows.toString.getBytes("UTF-8")) finally out.close()
    require(fs.rename(tmp, marker), s"atomic rename $tmp -> $marker failed")
  }

  private def readMarker(fs: FileSystem, marker: Path): Long = {
    val in = fs.open(marker)
    try new String(org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8").trim.toLong
    finally in.close()
  }
}
