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
  * Commit protocol: [[GraftStore.commit]], like every store change — the
  * rewritten partitions are staged under the next version prefix, then
  * `_current` flips with ONE atomic write (no rename on object stores). A
  * crash before the flip leaves staged-ahead debris the next commit sweeps;
  * after it, the new snapshot is complete. Mutual exclusion: the whole
  * operation holds the root's [[MaintenanceLease]] (fail-fast), so two
  * compactors (or compaction racing retention or vacuum) cannot interleave
  * — the loser aborts before touching anything.
  *
  * WRITERS are a separate discipline: appends land in the live version
  * directory, so rows appended after this job's inventory but before its
  * pointer flip could survive only in the grace snapshot, not the new live
  * tree. Like Delta/Iceberg OPTIMIZE under optimistic concurrency, the
  * commit DETECTS this instead of assuming it away: immediately before the
  * flip it re-inventories the dirty partitions and the live
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
      cluster: ClusterSpec = ClusterSpec.TimeMajor): Unit =
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

  /** A partition needs rewrite when its file count exceeds `dirtyMaxFiles`,
    * or it holds several files averaging under `dirtyMinAvgBytes`. A
    * single-file partition is never dirty — rewriting it buys nothing.
    */
  private def isDirty(files: Seq[GraftStore.FileEntry], dirtyMaxFiles: Int,
      dirtyMinAvgBytes: Long): Boolean = {
    val n = files.size
    n > dirtyMaxFiles || (n > 1 && files.map(_.len).sum / n < dirtyMinAvgBytes)
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
    keys.flatMap(leafOf(_, depth)).distinct.sorted

  /** The `depth`-level `col=` partition dir of one file key, if any. */
  private def leafOf(key: String, depth: Int): Option[String] = {
    val segs = key.stripPrefix("/").split('/')
    Option.when(segs.length > depth && segs.take(depth).forall(_.contains("=")))(
      segs.take(depth).mkString("/"))
  }

  /** Stage ONLY the dirty partitions under the NEXT version prefix —
    * readers only ever list the pointed-at prefix, so staging is invisible
    * — and carry every other partition by manifest reference; the commit
    * ([[GraftStore.commit]]) verifies the staged row count and flips the
    * pointer. No data rename anywhere, which is what object stores (rename
    * = copy+delete, non-atomic) require. Carried partitions chain to the
    * version that PHYSICALLY holds them (an entry carried across N commits
    * still names its original prefix), and reclaim keeps every partition a
    * retained snapshot reads.
    */
  private def compactOn(spark: SparkSession, root: String,
      maxRecordsPerFile: Long, partitionCols: Seq[String],
      dirtyMaxFiles: Int, dirtyMinAvgBytes: Long, full: Boolean,
      retainSnapshots: Int, cluster: ClusterSpec): Unit =
    GraftStore.commit[Unit, Unit](spark, root, "compact", None,
        leaseAttempts = 1, retainSnapshots, Right(())) { (live, _) =>
      val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
      // composite partition inventory from the live listing: the live
      // prefix's own files by `depth`-level partition, carried files under
      // the manifest entry that carries them; a partition can span both
      // (appends after a carry), in which case its file set is the union
      val depth = partitionCols.length
      val carried = live.manifest.map { case (h, rel) =>
        ((GraftStore.holderDir(root, h), rel), h) }.toMap
      val carriedDepths = live.manifest.map(e => leafDepth(e._2)).distinct
      val byRel = live.entries.groupBy { e =>
        if (e.legBase == live.dir) leafOf(e.key, depth).map((_, live.prefix))
        else carriedDepths.iterator.flatMap(leafOf(e.key, _))
          .collectFirst { case rel if carried.contains((e.legBase, rel)) =>
            (rel, carried((e.legBase, rel))) }
      }.collect { case (Some((rel, h)), fls) => (rel, h, fls) }.toSeq.groupBy(_._1)
      val ownRels = byRel.filter(_._2.exists(_._2 == live.prefix)).keySet
      // deletion vectors ([[DeleteVectors]]): rewritten partitions read
      // vector-APPLIED and come out clean (materialization); carried files
      // keep their vectors
      val curKeys = live.entries.map(_.key).toSet
      val dvCur = live.vectors.filter { case (k, _) => curKeys(k) }
      // a partition holding vectored files is worth rewriting even when its
      // file count looks healthy: materialization retires the read-side
      // anti-join debt (Delta's OPTIMIZE-applies-DVs contract). Partitions
      // go by their inventory rel, which for a carried one is its manifest
      // entry's depth, not the rewrite depth
      val dirtyRels = byRel.collect { case (rel, legs)
        if full || legs.exists(_._3.exists(e => dvCur.contains(e.key))) ||
          isDirty(legs.flatMap(_._3), dirtyMaxFiles, dirtyMinAvgBytes) => rel
      }.toSet
      if (dirtyRels.isEmpty) Left(()) // every partition already compact
      else {
        // read ONLY the dirty partitions, one leg per version prefix that
        // physically holds some of them
        // overlay-aware legs: pre-evolution files null-backfill the evolved
        // columns, so the rewrite MATERIALIZES them — the overlay shrinks to
        // irrelevance as maintenance touches partitions
        // Spark's own reader, not the snapshot relation: under this session's
        // inference-off conf partition values read as their directory strings,
        // so rewritten dirs keep byte-identical names (`hour=07`), where the
        // manifest-typed relation would read 7 and write `hour=7`
        val overlay = live.overlay
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
          if (dvCur.nonEmpty) DeleteVectors.applyTo(spark, inputRaw, dvCur, live.entries)
          else inputRaw
        rewrite(input, partitionCols, maxRecordsPerFile, live.nextDir, cluster)
        // carry every untouched partition by reference, chained to the holder
        // (version prefix or staged-append dir) that physically holds its
        // files — zero data movement
        val carryEntries = byRel.filter(e => !dirtyRels(e._1)).values.flatten.toSeq
          .map { case (rel, h, _) => (h, rel) }
        commitBucketSpec(spark, cluster, priorDir = live.dir, destDir = live.nextDir,
          anyCarried = carryEntries.nonEmpty)
        // the live rows are unchanged: the staged snapshot stores them less
        // the positions the rewrite materialized, i.e. the vectors of the
        // files it consumed
        val rewritten = byRel.filter(e => dirtyRels(e._1)).values.flatten
          .flatMap(_._3).map(_.key).toSet
        val materialized = dvCur.filter { case (k, _) => rewritten(k) }
        Right(GraftStore.Staged((),
          rows = live.physicalRows() - DeleteVectors.totalPositions(materialized),
          manifest = carryEntries,
          check = _ => {
            onBeforeCommit()
            // Optimistic concurrency: the staged snapshot fixes (a) the dirty
            // partitions' contents and (b) the carry manifest's partition-dir
            // set, both as of inventory time. A writer can only land in the
            // live prefix, so conflicts are: new files under a dirty
            // partition, or a NEW own-partition dir (brand-new partition, or
            // the first live-prefix files of a partition previously held only
            // by reference) — either would vanish from the flipped snapshot.
            // Appends to a partition dir the manifest carries are NOT
            // conflicts: the new version lists that same physical dir, so
            // the files stay visible. Identity is path + length + mtime.
            val ownNowByRel = partitionLeaves(fs, new Path(live.dir), depth).toMap
            val newOwnRels = ownNowByRel.keySet -- ownRels
            def idsOf(fls: Seq[FileStatus]) =
              fls.map(f => (f.getPath.toString, f.getLen, f.getModificationTime)).toSet
            val dirtyChanged = dirtyRels.filter { rel =>
              val before = byRel(rel).flatMap(_._3).map(e => (e.physical, e.len, e.mtime)).toSet
              val carriedNow = byRel(rel).collect { case (r, h, _) if h != live.prefix =>
                dataFilesUnder(fs, new Path(s"$root/$h/$r"))
              }.flatten
              before != idsOf(ownNowByRel.getOrElse(rel, Seq.empty) ++ carriedNow)
            }
            if (newOwnRels.nonEmpty || dirtyChanged.nonEmpty)
              throw new IllegalStateException(
                s"concurrent writer detected on $root during compaction " +
                  s"(new partitions: [${newOwnRels.mkString(",")}], changed: " +
                  s"[${dirtyChanged.mkString(",")}]); staged version removed, " +
                  "live store untouched — re-run compaction after the writer " +
                  "finishes (maintenance aborts on a racing writer, never loses rows)")
          },
          // compaction absorbs append-dir files into version prefixes; once
          // no retained snapshot references a staged dir it is reclaimable
          sweepAppendDirs = true))
      }
    }

  /** Number of `col=` levels in a manifest partition path. */
  private[logs] def leafDepth(rel: String): Int = if (rel.isEmpty) 0 else rel.count(_ == '/') + 1
}
