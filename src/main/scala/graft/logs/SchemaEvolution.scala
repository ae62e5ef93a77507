package graft.logs

import org.apache.spark.sql.SparkSession
import org.apache.hadoop.fs.Path

/** Schema evolution on versioned stores: add a column WITHOUT rewriting a
  * single data file — the canonical LLM-pipeline motion of annotating an
  * existing corpus (quality score, language id, dedup cluster) where a full
  * rewrite of 100 TB to add 4 bytes/row is a non-starter.
  *
  * The commit is metadata-only, exactly like an append publish with no
  * data: a new version carrying every partition of the current one by
  * manifest reference, plus an updated `_graft_schema` overlay line `name\ttypeDDL`. Read-side,
  * files that physically lack the column yield NULL ([[GraftStore
  * .applyOverlay]] — the Iceberg/Delta add-column null-backfill contract);
  * rows appended after the evolution write the column physically.
  * Compaction materializes it into rewritten files opportunistically and
  * carries the overlay forward, so the overlay shrinks to irrelevance as
  * maintenance touches partitions — no big-bang backfill job ever runs.
  *
  * Dropping or retyping columns is NOT offered: both change the meaning of
  * already-written bytes and belong to a rewrite, not an overlay.
  */
object SchemaEvolution {

  /** Commit `name: typeDDL` onto the live snapshot; returns the new version.
    * Zero data files move (verified by listing before the flip).
    */
  def addColumn(spark: SparkSession, root: String, name: String, typeDDL: String,
      partitionCols: Seq[String] = LogSchema.hivePartitionColumns): Int = {
    require(name.matches("[A-Za-z_][A-Za-z0-9_]*"), s"invalid column name '$name'")
    org.apache.spark.sql.types.DataType.fromDDL(typeDDL) // fail fast
    GraftStore.requireStore(spark, root)
    MaintenanceLease.withLeaseRetry(spark, root, "add-column") {
      addHeld(spark, root, name, typeDDL, partitionCols)
    }
  }

  private def requireFresh(overlay: Seq[(String, String)], name: String,
      physical: => Seq[String]): Unit = {
    require(!overlay.exists(_._1 == name), s"column '$name' already evolved")
    require(!physical.contains(name), s"column '$name' already exists physically")
  }

  private def addHeld(spark: SparkSession, root: String, name: String,
      typeDDL: String, partitionCols: Seq[String]): Int = {
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(!fs.exists(new Path(root, "_compact-inflight")),
      s"$root has an in-flight compaction marker — run compaction (recovery) first")
    val cur = GraftStore.currentVersion(spark, root)
    GraftStore.listVersions(spark, root).filter(_ > cur).foreach { n =>
      fs.delete(new Path(root, GraftStore.versionPrefix(n)), true)
    }
    val curPrefix = GraftStore.versionPrefix(cur)
    val curDir = s"$root/$curPrefix"
    val overlay = GraftStore.readSchemaOverlay(spark, curDir)
    requireFresh(overlay, name,
      if (GraftStore.compositeEntries(spark, root, cur).isEmpty) Seq.empty
      else GraftStore.readVersion(spark, root, cur).columns.toSeq)
    val own = Compaction.partitionLeaves(fs, new Path(curDir), partitionCols.length)
      .map { case (rel, _) => (curPrefix, rel) }
    val carried = GraftStore.readManifest(spark, curDir)
    val next = cur + 1
    val nextDir = s"$root/${GraftStore.versionPrefix(next)}"
    def abort(msg: String): Nothing = {
      fs.delete(new Path(nextDir), true)
      throw new IllegalStateException(msg)
    }
    GraftStore.writeManifest(spark, nextDir,
      (own ++ carried).sortBy(e => (e._2, e._1)))
    GraftStore.writeSchemaOverlay(spark, nextDir, overlay :+ (name, typeDDL))
    GraftStore.writeCommitInfo(spark, nextDir, GraftStore.CommitInfo("add-column",
      name, System.currentTimeMillis()))
    // zero-movement verification by LISTING, not data read: the staged
    // snapshot must reference the identical physical file set
    val before = GraftStore.compositeEntries(spark, root, cur)
      .map(e => (e.key, e.physical, e.len)).toSet
    val staged = GraftStore.compositeEntries(spark, root, next)
      .map(e => (e.key, e.physical, e.len)).toSet
    if (staged != before)
      abort(s"evolution commit would change the file set " +
        s"(${(staged diff before).size} added, ${(before diff staged).size} removed); " +
        s"aborting with $curDir live")
    // compare-and-swap on conditional-write stores (see casWritePointer)
    if (!GraftStore.casWritePointer(spark, root, cur, next))
      abort(s"concurrent commit detected on $root during add-column publish")
    GraftStore.reclaim(spark, root,
      GraftStore.listVersions(spark, root).filter(_ < next).takeRight(1).toSet + next)
    next
  }
}
