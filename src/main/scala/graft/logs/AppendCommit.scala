package graft.logs

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.hadoop.fs.Path

/** Atomic batch appends to versioned stores: append-as-commit.
  *
  * The plain `.mode("append")` write the engine used through round 6 lands
  * part-files one by one in the LIVE version directory — a reader listing
  * mid-append sees a torn multi-file write, and a crashed writer leaves
  * orphan part-files that silently become rows. The reference never has
  * this problem because its unit of ingest is one atomic S3 PutObject per
  * object (fluent-bit.conf:45,67 — each flushed chunk is a whole key);
  * this commit protocol restores that per-batch atomicity on top of
  * multi-file Spark writes:
  *
  *  1. STAGE — write the batch's part-files under the invisible prefix
  *     `<root>/_append-<id>` (the `_` prefix hides the subtree from Spark
  *     listings and `listVersions`). A crash here leaves zero visible
  *     rows; the debris is age-guard-swept by vacuum.
  *  2. PUBLISH — [[GraftStore.commit]]: the next version holds ONLY a
  *     manifest (the live partitions + the staged partitions as
  *     `_append-<id>` holders) and its sidecars, published by one
  *     compare-and-swap pointer write. Zero data bytes move — the Iceberg
  *     manifest-add commit shape. A reader resolving the store at ANY
  *     instant sees the complete old snapshot or the complete new one —
  *     never a partial append.
  *
  * Writers queue behind maintenance and each other for the lease with
  * bounded retry (`leaseAttempts`). Exactly-once replay: a caller-supplied
  * `commitId` is recorded with the commit; a later commit with the same id
  * short-circuits to the already-published version. Streaming sinks pass
  * `q<queryId>-b<batchId>` so a micro-batch replayed after a restart
  * commits once ([[LogStreamIngest]] round 7).
  */
object AppendCommit {

  /** Published version + staged row count; `replayed` when `commitId` was
    * already committed and nothing was written.
    */
  final case class Committed(version: Int, rows: Long, replayed: Boolean)

  def commit(df: DataFrame, root: String,
      partitionCols: Seq[String] = LogSchema.hivePartitionColumns,
      maxRecordsPerFile: Long = 1000000L,
      commitId: Option[String] = None,
      retainSnapshots: Int = 1,
      leaseAttempts: Int = 10): Committed = {
    val spark = df.sparkSession
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val name = GraftStore.AppendPrefix +
      commitId.getOrElse(java.util.UUID.randomUUID().toString)
    val stagingDir = s"$root/$name"
    val stagingPath = new Path(stagingDir)
    val depth = partitionCols.length
    var staged = false
    GraftStore.commit[Seq[FileStats.FileStat], Committed](spark, root, "append",
      commitId, leaseAttempts, retainSnapshots, prepare = {
        if (fs.exists(stagingPath)) {
          // a crashed prior attempt with the same id; never referenced by a
          // published version (a referenced dir means a lost commit record —
          // refuse, don't corrupt). A version staged ahead of the pointer is
          // that attempt's own debris.
          val live = GraftStore.currentVersion(spark, root)
          val referenced = GraftStore.listVersions(spark, root).filter(_ <= live)
            .exists(n => GraftStore.referencedAppendDirs(spark, root, n).contains(name))
          require(!referenced, s"$stagingDir is referenced by a retained version " +
            "but carries no matching commit record — inspect the store")
          fs.delete(stagingPath, true)
        }
        stage(df, stagingDir, partitionCols, maxRecordsPerFile)
        staged = true
        // the one footer pass over the staged files, on the driver: it gives
        // the staged row count and the staged files' stats lines
        val files = FileStats.collectStaged(spark, FileStats.listDirEntries(spark, stagingDir))
        if (files.exists(_.rows > 0)) Right(files)
        else {
          fs.delete(stagingPath, true)
          Left(Committed(GraftStore.currentVersion(spark, root), 0L, replayed = false))
        }
      }) { (live, files) =>
      val stagedRows = files.iterator.map(_.rows).sum
      val stagedLeaves = Compaction.leavesOf(files.map(_.key), depth)
      require(stagedLeaves.nonEmpty,
        s"staged append has rows but no partition dirs at depth $depth — " +
          s"partitionCols mismatch with the store layout?")
      // zero data bytes move: the next version references the staged
      // partitions beside every live one
      Right(GraftStore.Staged(Committed(live.version + 1, stagedRows, replayed = false),
        rows = live.physicalRows() + stagedRows,
        manifest = live.carryAll(depth) ++ stagedLeaves.map((name, _)),
        stats = files))
    } match {
      case Right(c) => c
      case Left(v) =>
        // replay could have landed while this call staged
        if (staged) fs.delete(stagingPath, true)
        Committed(v, 0L, replayed = true)
    }
  }

  /** Stage the batch under `stagingDir` with the store's physical write
    * contracts (one task per partition dir, bloom filters, bounded files).
    */
  private def stage(df: DataFrame, stagingDir: String,
      partitionCols: Seq[String], maxRecordsPerFile: Long): Unit =
    df.repartition(partitionCols.map(col): _*)
      .write
      .partitionBy(partitionCols: _*)
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .options(LogSchema.parquetBloomOptions)
      .mode("overwrite")
      .parquet(stagingDir)
}
