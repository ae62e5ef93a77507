package graft.logs

import org.apache.spark.sql.SparkSession

/** Schema evolution on versioned stores: add a column WITHOUT rewriting a
  * single data file — the canonical LLM-pipeline motion of annotating an
  * existing corpus (quality score, language id, dedup cluster) where a full
  * rewrite of 100 TB to add 4 bytes/row is a non-starter.
  *
  * The commit ([[GraftStore.commit]]) is metadata-only, exactly like an
  * append publish with no data: a new version carrying every partition of
  * the current one by manifest reference (and its deletion vectors and
  * stats), plus an updated `_graft_schema` overlay line `name\ttypeDDL`.
  * Read-side, files that physically lack the column yield NULL
  * ([[GraftStore.applyOverlay]] — the Iceberg/Delta add-column
  * null-backfill contract); rows appended after the evolution write the
  * column physically.
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
    GraftStore.commit[Unit, Int](spark, root, "add-column", None,
        leaseAttempts = 10, retain = 1, Right(())) { (live, _) =>
      require(!live.overlay.exists(_._1 == name), s"column '$name' already evolved")
      require(live.entries.isEmpty || !GraftStore.readVersionPhysical(spark, root,
        live.version, Some(live.entries)).columns.contains(name),
        s"column '$name' already exists physically")
      val before = live.entries.map(e => (e.key, e.physical, e.len)).toSet
      Right(GraftStore.Staged(live.version + 1, rows = live.physicalRows(),
        manifest = live.carryAll(partitionCols.length),
        overlay = Some(live.overlay :+ (name, typeDDL)),
        // zero-movement verification by LISTING, not data read: the staged
        // snapshot must reference the identical physical file set
        check = files => {
          val staged = files.map(e => (e.key, e.physical, e.len)).toSet
          if (staged != before)
            throw new IllegalStateException("evolution commit would change the " +
              s"file set (${(staged diff before).size} added, " +
              s"${(before diff staged).size} removed); aborting with ${live.dir} live")
        }))
    }.merge
  }
}
