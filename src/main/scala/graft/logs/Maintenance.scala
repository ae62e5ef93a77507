package graft.logs

import org.apache.spark.sql.SparkSession

/** Policy-driven auto-maintenance: one metadata-tier debt inventory decides
  * which maintenance jobs are worth running, then runs exactly those.
  *
  * The at-scale point is the DECISION, not the jobs (they exist already —
  * incremental compaction, vector materialization, IVM refresh): on a
  * 100 TB store the ops loop runs `Maintenance.run` every few minutes, and
  * that must cost listings + sidecar reads, never a data scan and never a
  * version flip when there is nothing to do. [[debt]] reads manifests,
  * `_graft_filestats` lines, and deletion-vector sidecars only; [[run]]
  * skips the compaction lease entirely when no partition is dirty and no
  * vector is pending, so a quiescent store sees ZERO version churn from any
  * number of maintenance passes (Delta's OPTIMIZE-when-worthwhile contract,
  * made a first-class loop). Reference anchor: the reference runs its
  * compact stage on a fixed timer (`test.sh:214-230` drives it after every
  * ingest round); the engine replaces the timer with a debt gate.
  *
  * Dirtiness mirrors [[Compaction]]'s own rule (more than `dirtyMaxFiles`
  * files in a partition, or several files averaging under
  * `dirtyMinAvgBytes`), so "maintain decides to compact" and "compaction
  * rewrites something" agree by construction.
  */
object Maintenance {

  /** Metadata-tier debt inventory of one store (+ registered views). */
  final case class Debt(
      liveVersion: Int,
      totalPartitions: Int,
      dirtyPartitions: Int,
      totalFiles: Int,
      pendingDeleteFiles: Int,
      pendingDeleteRows: Long,
      staleViews: Seq[String]) {
    def needsCompact: Boolean = dirtyPartitions > 0 || pendingDeleteRows > 0L
    def clean: Boolean = !needsCompact && staleViews.isEmpty
  }

  /** What one [[run]] pass did, with the before/after inventories.
    * `compactedIndexes` names the sibling dedup/near-dup index stores
    * whose per-commit slices this pass merged.
    */
  final case class Ran(compacted: Boolean, refreshedViews: Seq[String],
      before: Debt, after: Debt,
      compactedIndexes: Seq[String] = Seq.empty)

  /** Inventory debt from metadata alone: composite file listing, per-file
    * lengths, deletion-vector sidecars, view base-version pointers. No data
    * file is opened and nothing is mutated.
    */
  def debt(spark: SparkSession, root: String,
      views: Seq[String] = Seq.empty,
      dirtyMaxFiles: Int = 4,
      dirtyMinAvgBytes: Long = 32L << 20): Debt = {
    val live = GraftStore.liveVersionOf(spark, root)
    val entries = GraftStore.compositeEntries(spark, root, live)
    val byPartition = entries.groupBy(e =>
      e.key.split('/').filter(_.nonEmpty).dropRight(1).mkString("/"))
    val dirty = byPartition.values.count { fs =>
      val n = fs.size
      n > dirtyMaxFiles ||
        (n > 1 && fs.map(_.len).sum / n < dirtyMinAvgBytes)
    }
    val dv = DeleteVectors.read(spark, GraftStore.resolve(spark, root))
    val stale = views.filter(v => MatView.baseVersionOf(spark, v) < live)
    Debt(live, byPartition.size, dirty, entries.size,
      dv.size, DeleteVectors.totalPositions(dv), stale)
  }

  /** Hive partition column names of the live snapshot, read from the
    * manifest keys themselves (`cluster=dev/.../date=...` segments) — the
    * store knows its own layout, so maintenance never has to be TOLD the
    * depth (a wrong depth makes compaction silently inspect the wrong
    * granularity and leave the debt in place). `None` for non-hive layouts.
    */
  def inferPartitionCols(spark: SparkSession, root: String): Option[Seq[String]] = {
    val entries =
      GraftStore.compositeEntries(spark, root, GraftStore.liveVersionOf(spark, root))
    val layouts = entries.map(_.key.split('/').filter(_.nonEmpty).dropRight(1)
      .toSeq.takeWhile(_.contains('=')).map(_.takeWhile(_ != '='))).distinct
    layouts match {
      case Seq(cols) if cols.nonEmpty => Some(cols)
      case _ => None // positional layout, empty store, or mixed (let the caller say)
    }
  }

  /** One maintenance pass: compact IFF the debt inventory says a rewrite
    * would touch something (small-file debt or pending deletion vectors —
    * compaction materializes those), then bring every registered view to
    * the store head (itself a pointer-read no-op when current). A clean
    * store takes the fast path: no lease, no staging, no version flip.
    *
    * `partitionCols = Seq.empty` (the default) means "read the layout from
    * the store" via [[inferPartitionCols]].
    */
  def run(spark: SparkSession, root: String,
      views: Seq[String] = Seq.empty,
      dirtyMaxFiles: Int = 4,
      dirtyMinAvgBytes: Long = 32L << 20,
      maxRecordsPerFile: Long = 4000000L,
      partitionCols: Seq[String] = Seq.empty,
      retainSnapshots: Int = 1,
      cluster: ClusterSpec = ClusterSpec.TimeMajor,
      /** Also compact the SIBLING streaming-dedup index stores (see
        * [[compactDedupIndexes]]). OFF by default because the documented
        * ops pattern runs `maintain` every few minutes against stores
        * whose stream may be LIVE: unlike the store's own versioned
        * compaction, an index rewrite deletes merged slices immediately,
        * and a concurrent micro-batch that already planned its pruned
        * read would hit the deleted files and crash the stream (data
        * stays safe via exactly-once commit ids, but the run is lost).
        * Live streams run the same compactor in-line between their own
        * reads; set true only for offline maintenance windows
        * (`AdminCli maintain --compact-indexes=true`).
        */
      compactIndexes: Boolean = false,
      indexMaxSlices: Int = graft.ext.StreamingDedup.DefaultMaxIndexSlices): Ran = {
    val before = debt(spark, root, views, dirtyMaxFiles, dirtyMinAvgBytes)
    if (before.needsCompact) {
      val cols =
        if (partitionCols.nonEmpty) partitionCols
        else inferPartitionCols(spark, root).getOrElse(
          throw new IllegalArgumentException(
            s"$root is not hive-partitioned and no partitionCols were given"))
      Compaction.compactHive(spark, root,
        maxRecordsPerFile = maxRecordsPerFile,
        partitionCols = cols,
        dirtyMaxFiles = dirtyMaxFiles,
        dirtyMinAvgBytes = dirtyMinAvgBytes,
        retainSnapshots = retainSnapshots,
        cluster = cluster)
    }
    // refresh ALL registered views, not just stale-at-inventory ones: the
    // compaction above moved the head, and refresh itself no-ops when
    // already current — the staleness list is for reporting
    val refreshed = views.flatMap { v =>
      val r = MatView.refresh(spark, root, v)
      if (r.noop) None else Some(v)
    }
    val indexes =
      if (compactIndexes) compactDedupIndexes(spark, root, indexMaxSlices)
      else Seq.empty
    val after = debt(spark, root, views, dirtyMaxFiles, dirtyMinAvgBytes)
    Ran(before.needsCompact, refreshed, before, after, indexes)
  }

  /** Debt-gated compaction of the SIBLING dedup index stores a streaming
    * dedup sink maintains beside `root` (`<root>-dedup-index` and
    * `<root>-neardup-index/{bands,grams}` — [[graft.ext.StreamingDedup]]):
    * per-commit slices past the slice-count gate merge into one compact
    * slice per index, same metadata-tier decision rule as the store's own
    * compaction. Returns the index roots actually rewritten. Offline use
    * only while the owning stream is stopped — the live stream runs the
    * same compactor in-line between its own reads (single-writer), and a
    * concurrent rewrite could delete a slice mid-scan.
    */
  def compactDedupIndexes(spark: SparkSession, root: String,
      maxSlices: Int = graft.ext.StreamingDedup.DefaultMaxIndexSlices): Seq[String] = {
    import graft.ext.StreamingDedup
    // the dedup-state lease serializes this against live batches: a batch
    // holds it for its whole read-decide-commit-index cycle, so a rewrite
    // here can never delete a slice a planned read is about to open
    StreamingDedup.withStateLock(spark, root) {
      val targets = Seq(
        (StreamingDedup.dedupIndexRoot(root), Seq("fingerprint")),
        (StreamingDedup.indexRoot(root) + "/bands",
          Seq("band", "bucket", "doc_id")),
        (StreamingDedup.indexRoot(root) + "/grams", Seq("doc_id")))
      targets.flatMap { case (idx, keys) =>
        if (StreamingDedup.compactIndex(spark, idx, keys, maxSlices)) Some(idx)
        else None
      }
    }
  }
}
