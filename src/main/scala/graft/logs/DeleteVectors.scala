package graft.logs

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.hadoop.fs.Path

/** Row-level deletes for versioned stores: merge-on-read DELETION VECTORS,
  * plus the MERGE/upsert built on them.
  *
  * The reference treats every object as immutable and expires data only at
  * partition granularity (`retention` dropping whole date dirs); a
  * training-data store additionally needs ROW-level removal — GDPR/right-to-
  * be-forgotten point deletes, decontamination strikes, upserting corrected
  * documents — where rewriting the files holding a handful of rows out of
  * 10⁸ objects is not an option. The Delta/Iceberg answer is merge-on-read
  * deletion vectors, and this is that shape on [[GraftStore]]'s commit
  * primitives:
  *
  *  - a `_graft_deletes` sidecar in the version dir maps each data file
  *    (by its store-layout key, the same identity [[FileStats]] uses) to the
  *    row POSITIONS deleted from it, run-length compressed;
  *  - [[deleteWhere]] commits a new version that carries every data file
  *    untouched (by manifest reference — zero data bytes move) and
  *    adds the matched rows' positions to the sidecar: an O(metadata +
  *    matched-rows) commit regardless of store size;
  *  - every read ([[GraftStore.readVersion]] and friends) anti-joins the
  *    file's rows against its vector on (`_metadata.file_path`,
  *    `_metadata.row_index`) — a pure equi join Spark broadcasts while
  *    vectors are small and shuffles when they are not;
  *  - maintenance MATERIALIZES: compaction reads dirty partitions with
  *    vectors applied and rewrites them clean, dropping their sidecar
  *    entries, so the merge-on-read debt amortizes to zero as partitions
  *    are touched — exactly Delta's `OPTIMIZE` contract.
  *
  * Data files are immutable (every write uses fresh task-UUID names), so a
  * position vector stays valid for the file's lifetime; the sidecar records
  * each file's length as an identity check and a mismatch FAILS the read —
  * unlike [[FileStats]] (an optimization that fails open), deletes are
  * correctness and must never be silently skipped.
  *
  * Scale bound: vectors ride the commit as compressed ranges; a delete
  * whose vector would exceed [[MaxRangesDefault]] ranges is refused with
  * advice to rewrite instead — same division of labor as Delta, where DVs
  * serve point deletes and large deletes go through rewrite. (Reference
  * anchor for the store layout under this: compact_columns.c's immutable
  * one-PUT objects, fluent-bit.conf:42.)
  */
object DeleteVectors {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  val DeletesName = "_graft_deletes"

  /** Refuse deletes whose merged vector exceeds this many ranges: at that
    * size the store is better served by a rewrite than by every future read
    * dragging the vector through its anti-join.
    */
  val MaxRangesDefault: Int = 5000000

  /** One file's deletion vector: the file's length at delete time (identity
    * check — see class doc) and the deleted row positions as inclusive
    * `[start, end]` ranges, sorted, non-overlapping, non-adjacent.
    */
  final case class Dv(len: Long, ranges: Seq[(Long, Long)]) {
    def positions: Long = ranges.iterator.map(r => r._2 - r._1 + 1).sum
  }

  def totalPositions(dv: Map[String, Dv]): Long = dv.valuesIterator.map(_.positions).sum
  def totalRanges(dv: Map[String, Dv]): Long = dv.valuesIterator.map(_.ranges.size.toLong).sum

  /** Sorted distinct positions → minimal inclusive ranges. */
  private[graft] def compress(sorted: Seq[Long]): Seq[(Long, Long)] = {
    if (sorted.isEmpty) return Seq.empty
    val out = Seq.newBuilder[(Long, Long)]
    var start = sorted.head
    var prev = sorted.head
    sorted.tail.foreach { p =>
      require(p > prev, s"positions must be strictly increasing, saw $prev then $p")
      if (p == prev + 1) prev = p
      else { out += ((start, prev)); start = p; prev = p }
    }
    out += ((start, prev))
    out.result()
  }

  /** Executor-side run-length compression of a matched `(PathCol, PosCol)`
    * frame: the driver receives ONE ROW PER TOUCHED FILE — `(normalized
    * path, matched-position count, ranges packed as big-endian long pairs)`
    * — never the positions themselves. The r13 shape
    * (`groupBy(file).agg(sort_array(collect_list(pos))).collect()`) pulled
    * O(matched rows) longs through the driver and compressed them
    * single-threaded BEFORE the maxRanges cap could bite; a bulk
    * decontamination delete at 100 TB (the sf100 rehearsal's 27%-of-170M
    * strike is ~46M positions) OOMs a driver that way. Here the shuffle is
    * hash-partitioned on the file path and SORT-based (spillable), each
    * task emits its files' compressed runs in one linear pass, and driver
    * memory is O(total ranges) — exactly the size of the sidecar it must
    * write anyway, and what [[MaxRangesDefault]] actually bounds.
    */
  private[graft] def collectFileRanges(matched: DataFrame)
      : Array[(String, Long, Array[Byte])] = {
    val spark = matched.sparkSession
    import spark.implicits._
    matched
      .select(col(PathCol).as("p"), col(PosCol).cast("long").as("pos"))
      .repartition(col("p"))
      .sortWithinPartitions(col("p"), col("pos"))
      .as[(String, Long)]
      .mapPartitions { rows =>
        // all rows of one file are contiguous here (hash-partitioned on
        // path, sorted by (path, pos)): one streaming pass per file
        val it = rows.buffered
        new Iterator[(String, Long, Array[Byte])] {
          override def hasNext: Boolean = it.hasNext
          override def next(): (String, Long, Array[Byte]) = {
            val path = it.head._1
            val bytes = new java.io.ByteArrayOutputStream()
            val out = new java.io.DataOutputStream(bytes)
            var n = 0L
            var start = 0L
            var prev = 0L
            while (it.hasNext && it.head._1 == path) {
              val pos = it.next()._2
              if (n == 0L) { start = pos; prev = pos }
              else {
                require(pos > prev,
                  s"positions must be strictly increasing per file, saw " +
                    s"$prev then $pos in $path")
                if (pos == prev + 1) prev = pos
                else { out.writeLong(start); out.writeLong(prev); start = pos; prev = pos }
              }
              n += 1
            }
            out.writeLong(start); out.writeLong(prev)
            (path, n, bytes.toByteArray)
          }
        }
      }
      .collect()
  }

  /** Inverse of [[collectFileRanges]]'s packing: big-endian `[start, end]`
    * long pairs → the range list a [[Dv]] carries.
    */
  private[graft] def unpackRanges(packed: Array[Byte]): Seq[(Long, Long)] = {
    require(packed.length % 16 == 0, s"packed ranges length ${packed.length}")
    val bb = java.nio.ByteBuffer.wrap(packed)
    Seq.fill(packed.length / 16)((bb.getLong(), bb.getLong()))
  }

  /** Union of two range sets (merging overlaps/adjacency). */
  private[graft] def mergeRanges(a: Seq[(Long, Long)], b: Seq[(Long, Long)]): Seq[(Long, Long)] = {
    val all = (a ++ b).sortBy(_._1)
    if (all.isEmpty) return Seq.empty
    val out = Seq.newBuilder[(Long, Long)]
    var (cs, ce) = all.head
    all.tail.foreach { case (s, e) =>
      if (s <= ce + 1) ce = math.max(ce, e)
      else { out += ((cs, ce)); cs = s; ce = e }
    }
    out += ((cs, ce))
    out.result()
  }

  private def esc(s: String): String = java.net.URLEncoder.encode(s, "UTF-8")
  private def unesc(s: String): String = java.net.URLDecoder.decode(s, "UTF-8")

  /** Sidecar format: one line per file, `key \t len \t s-e,s-e,...`
    * (key URL-escaped like [[FileStats]]; single positions render `p-p`).
    * Unlike the stats sidecar a TORN line here is a correctness hazard, so
    * parsing is strict — corrupt lines throw instead of degrading.
    */
  def read(spark: SparkSession, dir: String): Map[String, Dv] = {
    val p = new Path(dir, DeletesName)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return Map.empty
    val in = fs.open(p)
    val text = try new String(org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
    finally in.close()
    text.split('\n').iterator.filter(_.nonEmpty).map { line =>
      line.split('\t') match {
        case Array(k, len, rs) =>
          val ranges = rs.split(',').toSeq.filter(_.nonEmpty).map { r =>
            val i = r.indexOf('-', 1) // position 0 is never '-' (positions >= 0)
            require(i > 0, s"corrupt delete range '$r' in $p")
            val s = r.substring(0, i).toLong
            val e = r.substring(i + 1).toLong
            require(s >= 0 && e >= s, s"corrupt delete range '$r' in $p")
            (s, e)
          }
          require(ranges.nonEmpty, s"corrupt delete line (no ranges) in $p: '$line'")
          (unesc(k), Dv(len.toLong, ranges))
        case _ => throw new IllegalStateException(
          s"corrupt deletion-vector line in $p: '$line'")
      }
    }.toMap
  }

  /** Atomic sidecar write (single PUT / temp+rename via
    * [[GraftStore.atomicWriteBytes]]); an empty map removes the sidecar.
    */
  def write(spark: SparkSession, dir: String, dv: Map[String, Dv]): Unit = {
    val p = new Path(dir, DeletesName)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (dv.isEmpty) { fs.delete(p, false); return }
    val lines = dv.toSeq.sortBy(_._1).map { case (k, v) =>
      s"${esc(k)}\t${v.len}\t${v.ranges.map(r => s"${r._1}-${r._2}").mkString(",")}"
    }
    GraftStore.atomicWriteBytes(spark, p, lines.mkString("\n").getBytes("UTF-8"))
  }

  /** Carry the predecessor's sidecar into a staged version dir, keeping only
    * vectors whose file is still part of the new snapshot (`keepKeys`) —
    * rewritten/dropped files shed their vectors. Returns what was written.
    */
  def carryInto(spark: SparkSession, fromDir: String, toDir: String,
      keepKeys: Set[String]): Map[String, Dv] = {
    val kept = read(spark, fromDir).filter { case (k, _) => keepKeys(k) }
    write(spark, toDir, kept)
    kept
  }

  // ---- read-side application --------------------------------------------

  private[graft] val PathCol = "__graft_dv_path"
  private[graft] val PosCol = "__graft_dv_pos"

  /** Scheme-and-authority-normalized form of a physical path, matching
    * [[normalizeSql]]: `file:/tmp/x`, `file:///tmp/x` → `/tmp/x`;
    * `s3l://bucket/k` → `/bucket/k`.
    */
  private[logs] def normalizePath(physical: String): String = {
    val u = new Path(physical).toUri
    Option(u.getAuthority).filter(_.nonEmpty).map("/" + _).getOrElse("") + u.getPath
  }

  private[logs] def normalizeSql(c: Column): Column =
    regexp_replace(c, "^[a-zA-Z][a-zA-Z0-9+.-]*:/*", "/")

  /** Project the hidden file metadata needed by the anti-join. Must run
    * per-leg, BEFORE any union — `_metadata` resolves against a single file
    * source relation.
    */
  private[graft] def tagMeta(df: DataFrame): DataFrame =
    df.withColumn(PathCol, normalizeSql(col("_metadata.file_path")))
      .withColumn(PosCol, col("_metadata.row_index"))

  /** Drop rows whose (file, position) is deleted, then drop the metadata
    * columns. `entries` is the snapshot's physical file inventory (the same
    * listing the read plans from); a vector keyed to a file absent from it
    * is inert (the file was dropped by retention while its vector rode a
    * carry), but a PRESENT key whose length changed means the vector no
    * longer describes the file — that read must fail, not resurrect or
    * mis-delete rows.
    */
  private[graft] def applyTo(spark: SparkSession, tagged: DataFrame,
      dv: Map[String, Dv], entries: Seq[GraftStore.FileEntry]): DataFrame =
    applyKeep(spark, tagged, dv, entries).drop(PathCol, PosCol)

  // ---- delete commit ----------------------------------------------------

  /** `materialized = true` means the commit exceeded `maxRanges` and the
    * engine auto-rewrote the vectored partitions copy-on-write (the Delta
    * DV play: merge-on-read below the threshold, rewrite above it) —
    * `version` is then the post-rewrite version and the live snapshot
    * carries no vectors for the rewritten partitions.
    */
  final case class DeleteCommitted(version: Int, deletedRows: Long,
      replayed: Boolean, materialized: Boolean = false)
  final case class MergeCommitted(version: Int, matchedDeleted: Long,
      inserted: Long, replayed: Boolean, materialized: Boolean = false)

  /** Commit a row-level delete as a new version: every data file is carried
    * untouched (by manifest reference) and the matched rows' positions join
    * the deletion-vector
    * sidecar. Zero data bytes move; the pre-delete snapshot stays
    * time-travelable until vacuumed. Exactly-once replay by `commitId`
    * (same contract as [[AppendCommit]]).
    *
    * Replay + over-cap interaction: a same-`commitId` retry re-checks the
    * CURRENT live sidecar against THIS call's `maxRanges` (the sidecar does
    * not attribute ranges to commits), so a retry that races later deletes
    * — or passes a tighter cap — may materialize debt those commits left
    * behind. That over-repair is deliberate: it is how a crash between the
    * original over-cap vector commit and its deferred copy-on-write rewrite
    * gets repaired by retry instead of waiting for unrelated maintenance.
    * If the layout has meanwhile become un-routable (flat/mixed), the
    * replay skips the rewrite with a warning rather than failing an
    * otherwise idempotent call.
    */
  def deleteWhere(spark: SparkSession, root: String, condition: Column,
      commitId: Option[String] = None,
      retainSnapshots: Int = 1,
      maxRanges: Int = MaxRangesDefault,
      leaseAttempts: Int = 10,
      /** Over `maxRanges`, auto-rewrite the vectored partitions instead of
        * refusing (see [[materializeIfOverCap]]); false restores the
        * fail-fast for callers that schedule their own rewrites.
        */
      materializeOverCap: Boolean = true): DeleteCommitted = {
    val (committed, overCap) = deleteCommit(spark, root, _.filter(condition),
      commitId, retainSnapshots, maxRanges, leaseAttempts, materializeOverCap)
    if (overCap) materializeIfOverCap(spark, root, committed, retainSnapshots)
    else committed
  }

  /** Batch-keyed delete — the strike-list shape (GDPR erasure batches,
    * decontamination hit lists): rows whose `keyCols` tuple appears in
    * `keys` are deleted. Unlike [[deleteWhere]]'s predicate, the key set is
    * a DataFrame, so a 10⁷-row strike list joins instead of riding the plan
    * as literals; Spark broadcasts it while small and shuffles when not.
    */
  def deleteMatching(spark: SparkSession, root: String, keys: DataFrame,
      keyCols: Seq[String],
      commitId: Option[String] = None,
      retainSnapshots: Int = 1,
      maxRanges: Int = MaxRangesDefault,
      leaseAttempts: Int = 10,
      materializeOverCap: Boolean = true): DeleteCommitted = {
    require(keyCols.nonEmpty, "deleteMatching needs at least one key column")
    val keySet = keys.select(keyCols.map(col): _*).distinct()
    val (committed, overCap) = deleteCommit(spark, root,
      _.join(keySet, keyCols, "left_semi"),
      commitId, retainSnapshots, maxRanges, leaseAttempts, materializeOverCap)
    if (overCap) materializeIfOverCap(spark, root, committed, retainSnapshots)
    else committed
  }

  /** The over-cap fallback (r12 sf100 rehearsal finding: a scattered delete
    * of ~27% of 170M events builds 11.6M vector ranges and the old
    * fail-fast refused the commit). The vector commit lands FIRST (atomic,
    * O(metadata + matched rows)); then a compaction pass rewrites exactly
    * the vectored partitions — they are dirty by definition — shedding
    * their vectors, copy-on-write. Runs AFTER the delete lease releases
    * (the maintenance lease is per-root exclusive); a crash in between
    * leaves a big-but-correct sidecar that the next maintenance pass
    * materializes anyway — and a same-commitId RETRY of that crash re-runs
    * this (deleteCommit's replay path re-reports over-cap from the live
    * sidecar), so the deferred rewrite is not stranded until an unrelated
    * maintenance pass. Partition columns come from the store layout itself;
    * a FLAT (or mixed-layout) store cannot route through compaction, so
    * deleteCommit refuses those over-cap deletes BEFORE committing.
    */
  private def materializeIfOverCap(spark: SparkSession, root: String,
      committed: DeleteCommitted, retainSnapshots: Int): DeleteCommitted = {
    val (liveBefore, _, _) = liveVersion(spark, root)
    val cols = partitionColsOf(
      GraftStore.compositeEntries(spark, root, liveBefore)).getOrElse(
      throw new IllegalStateException(
        s"over-cap delete on $root needs partition dirs to rewrite " +
          "copy-on-write, but the layout is flat or mixed"))
    Compaction.compactHive(spark, root, partitionCols = cols,
      retainSnapshots = retainSnapshots)
    val (live, _, _) = liveVersion(spark, root)
    committed.copy(version = live, materialized = true)
  }

  /** Partition columns parsed from the layout's `k=v` chains — defined only
    * when EVERY entry agrees on the same chain. A mixed store (a flat
    * legacy file next to `k=` dirs) yields None: partition-scoped
    * compaction cannot route it, so over-cap callers must refuse pre-commit
    * rather than mis-derive from whichever entry listed first.
    */
  private[graft] def partitionColsOf(
      entries: Seq[GraftStore.FileEntry]): Option[Seq[String]] = {
    // keys look like "/cluster=dev/date=2024-01-01/part-x.parquet"
    def colsOf(key: String): Option[Seq[String]] = {
      val segs = key.split('/').toSeq.filter(_.nonEmpty).dropRight(1)
      if (segs.nonEmpty && segs.forall(_.contains('=')))
        Some(segs.map(_.takeWhile(_ != '=')))
      else None
    }
    entries.headOption.flatMap(e => colsOf(e.key))
      .filter(first => entries.forall(e => colsOf(e.key).contains(first)))
  }

  private def deleteCommit(spark: SparkSession, root: String,
      matchRows: DataFrame => DataFrame,
      commitId: Option[String],
      retainSnapshots: Int,
      maxRanges: Int,
      leaseAttempts: Int,
      allowOverCap: Boolean = false): (DeleteCommitted, Boolean) = {
    commitId.foreach { id =>
      require(id.matches("[A-Za-z0-9._-]+"), s"commit id '$id' must be [A-Za-z0-9._-]+")
    }
    GraftStore.requireStore(spark, root)
    MaintenanceLease.withLeaseRetry(spark, root, "delete", leaseAttempts) {
      commitId.flatMap(GraftStore.committedVersion(spark, root, _)).foreach { v =>
        // A crash between the original over-cap vector commit and its
        // copy-on-write compaction leaves the big sidecar live; re-report
        // over-cap from the LIVE sidecar so the retry re-runs the deferred
        // rewrite (idempotent — a materialized original reads back under
        // cap and replays with over=false). See [[deleteWhere]]'s scaladoc
        // for the current-sidecar/current-cap semantics. If the layout has
        // since become flat/mixed (out-of-protocol mutation), compaction
        // cannot route — skip the rewrite with a warning instead of
        // throwing from an idempotent replay.
        val (liveV, liveDir, _) = liveVersion(spark, root)
        val over = allowOverCap && totalRanges(read(spark, liveDir)) > maxRanges
        val routable = !over || partitionColsOf(
          GraftStore.compositeEntries(spark, root, liveV)).isDefined
        if (over && !routable)
          log.warn(s"replayed delete on $root finds the live sidecar over " +
            s"cap but the layout is flat or mixed — skipping the deferred " +
            "copy-on-write rewrite; run Compaction.compactHive(full=true)")
        return (DeleteCommitted(v, 0L, replayed = true), over && routable)
      }
      requireNoCompactMarker(spark, root)
      val (cur, curDir, dirOf) = liveVersion(spark, root)
      val entries = GraftStore.compositeEntries(spark, root, cur)
      val prior = read(spark, curDir)
      // matched rows: the live view (existing vectors applied — a re-delete
      // of already-deleted rows is a no-op) through the caller's matcher,
      // reduced to ONE driver row per touched FILE with the positions
      // already run-length compressed executor-side ([[collectFileRanges]]).
      // A dataless store matches nothing (and has no schema to read).
      // The scan is the snapshot relation, so the condition sees partition
      // columns manifest-typed whatever the session's inference conf: an
      // int partition predicate like hour >= 9 never compares as strings
      // ("10" < "9") and strikes the wrong rows.
      val matched =
        if (entries.isEmpty) Array.empty[(String, Long, Array[Byte])]
        else collectFileRanges(
          matchRows(taggedLiveRead(spark, root, cur, prior, entries)))
      val keyOfNorm = entries.map(e => (normalizePath(e.physical), e)).toMap
      var newPositions = 0L
      val additions: Map[String, Dv] = matched.map { case (path, n, packed) =>
        val e = keyOfNorm.getOrElse(path, throw new IllegalStateException(
          s"matched file $path is not in the snapshot inventory"))
        newPositions += n
        (e.key, Dv(e.len, unpackRanges(packed)))
      }.toMap
      if (additions.isEmpty)
        return (DeleteCommitted(cur, 0L, replayed = false), false)
      val merged = (prior.keySet ++ additions.keySet).iterator.map { k =>
        (prior.get(k), additions.get(k)) match {
          case (Some(a), Some(b)) =>
            require(a.len == b.len, s"vector length mismatch for '$k'")
            (k, Dv(a.len, mergeRanges(a.ranges, b.ranges)))
          case (Some(a), None) => (k, a)
          case (None, Some(b)) => (k, b)
          case _ => throw new IllegalStateException("unreachable")
        }
      }.toMap
      val overCap = totalRanges(merged) > maxRanges
      // the copy-on-write fallback needs a uniform k=v layout to route the
      // rewrite through partition-scoped compaction — refuse BEFORE the
      // commit lands when it can't run, so the caller never sees an
      // exception with the delete already committed behind it
      val canMaterialize = allowOverCap && partitionColsOf(entries).isDefined
      require(!overCap || canMaterialize,
        s"merged deletion vectors hold ${totalRanges(merged)} ranges " +
          s"(> $maxRanges): this delete is too large for merge-on-read" +
          (if (allowOverCap)
            " and the layout is flat or mixed, so the copy-on-write " +
              "fallback cannot route through partition compaction — " +
              "rewrite the store instead (Compaction.compactHive(full=true))"
          else
            " — rewrite instead (Compaction.compactHive(full=true) " +
              "materializes vectors, or filter-and-rewrite the store)"))
      val next = cur + 1
      val nextDir = dirOf(next)
      val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
      def abort(msg: String): Nothing = {
        fs.delete(new Path(nextDir), true)
        throw new IllegalStateException(msg)
      }
      stageCarryAll(spark, root, cur, next, entries)
      write(spark, nextDir, merged)
      GraftStore.writeCommitInfo(spark, nextDir, GraftStore.CommitInfo("delete",
        commitId.getOrElse(java.util.UUID.randomUUID().toString),
        System.currentTimeMillis()))
      val nextEntries = GraftStore.compositeEntries(spark, root, next)
      FileStats.refreshInto(spark, nextDir, nextEntries, FileStats.read(spark, curDir))
      // metadata-only verification: the commit moves no data, so the staged
      // snapshot must hold exactly the predecessor's physical rows, and its
      // vector total must have grown by exactly the matched count
      val prevPhys = FileStats.physicalRows(spark, root, cur, entries)
      val stagedPhys = FileStats.physicalRows(spark, root, next, nextEntries)
      if (stagedPhys != prevPhys)
        abort(s"delete commit staged $stagedPhys physical rows, expected " +
          s"$prevPhys; aborting with $curDir live")
      if (totalPositions(merged) != totalPositions(prior) + newPositions)
        abort("deletion-vector bookkeeping mismatch; aborting")
      flip(spark, root, cur, next, retainSnapshots, abort)
      commitId.foreach(GraftStore.recordTxn(spark, root, _, next))
      (DeleteCommitted(next, newPositions, replayed = false), overCap)
    }
  }

  /** MERGE/upsert keyed on `keyCols`: in ONE commit, rows of the live
    * snapshot whose key appears in `updates` are deleted (by vector) and
    * every `updates` row is appended — the merge-on-read upsert. Callers
    * supply `updates` unique per key (duplicates insert duplicates, the
    * plain UNION semantics). `updates` must carry the store's partition
    * columns.
    *
    * Replay + over-cap: like [[deleteWhere]], a same-`commitId` retry
    * re-checks the CURRENT live sidecar against THIS call's `maxRanges`;
    * the deferred rewrite routes through the caller's `partitionCols`
    * (the merge contract already pins them to the store layout).
    */
  def mergeByKey(spark: SparkSession, root: String, updates: DataFrame,
      keyCols: Seq[String], partitionCols: Seq[String],
      commitId: Option[String] = None,
      retainSnapshots: Int = 1,
      maxRecordsPerFile: Long = 1000000L,
      maxRanges: Int = MaxRangesDefault,
      leaseAttempts: Int = 10,
      materializeOverCap: Boolean = true): MergeCommitted = {
    require(keyCols.nonEmpty, "mergeByKey needs at least one key column")
    commitId.foreach { id =>
      require(id.matches("[A-Za-z0-9._-]+"), s"commit id '$id' must be [A-Za-z0-9._-]+")
    }
    GraftStore.requireStore(spark, root)
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val pair = mergeCommit(spark, root, updates, keyCols, partitionCols,
      commitId, retainSnapshots, maxRecordsPerFile, maxRanges, leaseAttempts,
      materializeOverCap, fs)
    val (committed, overCapOut) = pair
    if (overCapOut) {
      // same copy-on-write fallback as deleteWhere, after the lease releases
      Compaction.compactHive(spark, root, maxRecordsPerFile = maxRecordsPerFile,
        partitionCols = partitionCols, retainSnapshots = retainSnapshots)
      val (live, _, _) = liveVersion(spark, root)
      committed.copy(version = live, materialized = true)
    } else committed
  }

  private def mergeCommit(spark: SparkSession, root: String,
      updates: DataFrame, keyCols: Seq[String], partitionCols: Seq[String],
      commitId: Option[String], retainSnapshots: Int,
      maxRecordsPerFile: Long, maxRanges: Int, leaseAttempts: Int,
      materializeOverCap: Boolean,
      fs: org.apache.hadoop.fs.FileSystem): (MergeCommitted, Boolean) =
    MaintenanceLease.withLeaseRetry(spark, root, "merge", leaseAttempts) {
      commitId.flatMap(GraftStore.committedVersion(spark, root, _)).foreach { v =>
        // see deleteCommit's replay note: a crash between the over-cap
        // vector commit and its compaction must be repairable by retry
        val (_, liveDir, _) = liveVersion(spark, root)
        val over = materializeOverCap &&
          totalRanges(read(spark, liveDir)) > maxRanges
        return (MergeCommitted(v, 0L, 0L, replayed = true), over)
      }
      requireNoCompactMarker(spark, root)
      val (cur, curDir, dirOf) = liveVersion(spark, root)
      val entries = GraftStore.compositeEntries(spark, root, cur)
      val prior = read(spark, curDir)
      // 1. vector for matched keys: semi-join the live view against the
      //    update keys (size-guarded broadcast — update batches are small
      //    next to the store in the streaming-upsert pattern, but a BULK
      //    merge's key set grows with the update, and a forced hint there
      //    is an executor OOM; past the cap the semi-join shuffles and AQE
      //    still broadcasts at runtime if the actual size allows)
      //    and collect one compressed row per touched FILE
      //    ([[collectFileRanges]] — never the raw positions)
      val keys = updates.select(keyCols.map(col): _*).distinct()
      // a dataless store (fresh streaming sink, first batch) matches nothing.
      // Like the delete path, a partition-column merge key matches
      // manifest-typed, whatever the session's inference conf.
      val matched =
        if (entries.isEmpty) Array.empty[(String, Long, Array[Byte])]
        else collectFileRanges(
          taggedLiveRead(spark, root, cur, prior, entries)
            .join(graft.plans.Hints.dimBroadcast(keys), keyCols, "left_semi"))
      val keyOfNorm = entries.map(e => (normalizePath(e.physical), e)).toMap
      var matchedRows = 0L
      val additions: Map[String, Dv] = matched.map { case (path, n, packed) =>
        val e = keyOfNorm.getOrElse(path, throw new IllegalStateException(
          s"matched file $path is not in the snapshot inventory"))
        matchedRows += n
        (e.key, Dv(e.len, unpackRanges(packed)))
      }.toMap
      val merged = (prior.keySet ++ additions.keySet).iterator.map { k =>
        (prior.get(k), additions.get(k)) match {
          case (Some(a), Some(b)) => (k, Dv(a.len, mergeRanges(a.ranges, b.ranges)))
          case (Some(a), None) => (k, a)
          case (None, Some(b)) => (k, b)
          case _ => throw new IllegalStateException("unreachable")
        }
      }.toMap
      val overCap = totalRanges(merged) > maxRanges
      require(!overCap || materializeOverCap,
        s"merged deletion vectors hold ${totalRanges(merged)} ranges " +
          s"(> $maxRanges): this merge is too large for merge-on-read — " +
          "rewrite the store instead")
      // 2. stage the update rows like an atomic append
      val stageName = GraftStore.AppendPrefix + "merge-" +
        commitId.getOrElse(java.util.UUID.randomUUID().toString)
      val stagingDir = s"$root/$stageName"
      val stagingPath = new Path(stagingDir)
      if (fs.exists(stagingPath)) fs.delete(stagingPath, true)
      updates.repartition(partitionCols.map(col): _*)
        .write.partitionBy(partitionCols: _*)
        .option("maxRecordsPerFile", maxRecordsPerFile)
        .options(LogSchema.parquetBloomOptions)
        .mode("overwrite").parquet(stagingDir)
      // one footer pass over the staged rows: their count and stats lines
      val staged = FileStats.collectStaged(spark, FileStats.listDirEntries(spark, stagingDir))
      val inserted = staged.iterator.map(_.rows).sum
      if (inserted == 0L && additions.isEmpty) {
        fs.delete(stagingPath, true)
        return (MergeCommitted(cur, 0L, 0L, replayed = false), false)
      }
      val next = cur + 1
      val nextDir = dirOf(next)
      def abort(msg: String): Nothing = {
        fs.delete(new Path(nextDir), true)
        throw new IllegalStateException(msg)
      }
      // 3. one commit: carry everything + reference the staged files +
      //    the merged vector sidecar
      stageCarryAll(spark, root, cur, next, entries,
        extraAppend = if (inserted > 0) Some((stageName, staged.map(_.key))) else None)
      write(spark, nextDir, merged)
      GraftStore.writeCommitInfo(spark, nextDir, GraftStore.CommitInfo("merge",
        commitId.getOrElse(java.util.UUID.randomUUID().toString),
        System.currentTimeMillis()))
      val nextEntries = GraftStore.compositeEntries(spark, root, next)
      FileStats.refreshInto(spark, nextDir, nextEntries,
        FileStats.read(spark, curDir) ++ staged.map(s => s.key -> s))
      val prevPhys = FileStats.physicalRows(spark, root, cur, entries)
      val stagedPhys = FileStats.physicalRows(spark, root, next, nextEntries)
      if (stagedPhys != prevPhys + inserted)
        abort(s"merge staged $stagedPhys physical rows, expected " +
          s"$prevPhys + $inserted; aborting with $curDir live")
      flip(spark, root, cur, next, retainSnapshots, abort)
      commitId.foreach(GraftStore.recordTxn(spark, root, _, next))
      (MergeCommitted(next, matchedRows, inserted, replayed = false), overCap)
    }

  // ---- shared commit plumbing -------------------------------------------

  private def requireNoCompactMarker(spark: SparkSession, root: String): Unit = {
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(!fs.exists(new Path(root, "_compact-inflight")),
      s"$root has an in-flight compaction marker — run compaction (recovery) first")
  }

  private def liveVersion(spark: SparkSession,
      root: String): (Int, String, Int => String) = {
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cur = GraftStore.currentVersion(spark, root)
    // markerless staged-ahead prefixes are debris (we hold the lease)
    GraftStore.listVersions(spark, root).filter(_ > cur).foreach { n =>
      fs.delete(new Path(root, GraftStore.versionPrefix(n)), true)
    }
    (cur, s"$root/${GraftStore.versionPrefix(cur)}",
      n => s"$root/${GraftStore.versionPrefix(n)}")
  }

  /** The live snapshot with metadata columns retained and EXISTING vectors
    * applied — the frame delete/merge matching runs over.
    */
  private def taggedLiveRead(spark: SparkSession, root: String, cur: Int,
      prior: Map[String, Dv], entries: Seq[GraftStore.FileEntry]): DataFrame = {
    val tagged = GraftStore.readVersionTagged(spark, root, cur, Some(entries))
    if (prior.isEmpty) tagged else applyKeep(spark, tagged, prior, entries)
  }

  /** Like [[applyTo]] but KEEPS the metadata columns for downstream use.
    *
    * HOW (r14 rewrite): the vectors apply as a broadcast-table FILTER, not
    * a join — per row, one hash lookup of its file's sorted range arrays
    * plus a binary search on the position (the Delta/Iceberg shape: a DV
    * is a per-file bitmap consulted during the scan, never a join
    * operand). Earlier rounds exploded positions into a broadcast
    * anti-join (r13 measured it at 13.5 s where the underlying scan costs
    * 0.8 s at sf10 — the exploded build carried one full path string PER
    * POSITION, and the probe hashed 10M string keys); the filter does
    * O(rows · log ranges-of-its-file) work with ZERO shuffle, zero build,
    * and memory exactly the compressed sidecar (≤ maxRanges ranges,
    * broadcast once per executor). Both old branches collapse: a
    * contiguous billion-position strike is ONE range (trivial search), a
    * scattered multi-million-range debt is a ~20-step search — neither
    * ever materializes a position.
    */
  private[logs] def applyKeep(spark: SparkSession, tagged: DataFrame,
      dv: Map[String, Dv], entries: Seq[GraftStore.FileEntry]): DataFrame = {
    val byKey = entries.map(e => (e.key, e)).toMap
    val live = dv.flatMap { case (k, v) =>
      byKey.get(k).map { e =>
        require(e.len == v.len,
          s"deletion vector for '$k' was built against length ${v.len} but the " +
            s"file is now ${e.len} bytes — the store was modified outside the " +
            "commit protocol; refusing to apply a stale vector")
        (normalizePath(e.physical), v)
      }
    }
    if (live.isEmpty) return tagged
    // per-file sorted, non-overlapping [start,end] arrays (the Dv
    // invariant), keyed by UTF8String so the probe compares the scan's
    // metadata column with zero per-row conversion
    val table: Map[org.apache.spark.unsafe.types.UTF8String, (Array[Long], Array[Long])] =
      live.map { case (p, v) =>
        (org.apache.spark.unsafe.types.UTF8String.fromString(p),
          (v.ranges.map(_._1).toArray, v.ranges.map(_._2).toArray))
      }
    val bc = spark.sparkContext.broadcast(table)
    tagged.filter(!graft.expr.Compat.column(graft.expr.DvDeleted(
      graft.expr.Compat.expression(col(PathCol)),
      graft.expr.Compat.expression(col(PosCol)), bc)))
  }

  /** Stage version `next` as a pure carry of version `cur` by manifest
    * reference, plus optionally one staged-append holder (the merge's
    * inserted files, by their staging-dir keys). `entries` is the live
    * snapshot's listing, so the carry lists nothing again.
    */
  private def stageCarryAll(spark: SparkSession, root: String, cur: Int,
      next: Int, entries: Seq[GraftStore.FileEntry],
      extraAppend: Option[(String, Seq[String])] = None): Unit = {
    val curPrefix = GraftStore.versionPrefix(cur)
    val curDir = s"$root/$curPrefix"
    val nextDir = s"$root/${GraftStore.versionPrefix(next)}"
    val carried = GraftStore.readManifest(spark, curDir)
    val ownKeys = entries.filter(_.legBase == curDir).map(_.key)
    val depth = partitionDepthOf(ownKeys, carried)
    val own = Compaction.leavesOf(ownKeys, depth).map((curPrefix, _))
    val added = extraAppend.toSeq.flatMap { case (name, keys) =>
      Compaction.leavesOf(keys, depth).map((name, _))
    }
    require(extraAppend.isEmpty || added.nonEmpty,
      "staged merge rows landed in no partition dirs — partitionCols " +
        "mismatch with the store layout?")
    GraftStore.writeManifest(spark, nextDir,
      (own ++ carried ++ added).sortBy(e => (e._2, e._1)))
    GraftStore.carrySchemaOverlay(spark, curDir, nextDir)
  }

  /** Partition depth of the store layout: the all-`col=` chain above the
    * live version's first own data file (by key). Delete/merge commits
    * carry at this granularity; a flat (unpartitioned) store carries depth 0.
    */
  private def partitionDepthOf(ownKeys: Seq[String],
      manifest: Seq[(String, String)]): Int = {
    val own = ownKeys.minOption.fold(0)(
      _.stripPrefix("/").split('/').init.takeWhile(_.contains("=")).length)
    if (own > 0) own
    // own dir may be empty/manifest-only: measure a carried holder instead.
    // rel is the partition path at carry granularity — "" for a FLAT store
    // (depth 0), "k=v" for depth 1, "k=v/k2=v2" for depth 2
    else manifest.headOption.fold(0) { case (_, rel) =>
      if (rel.isEmpty) 0 else rel.count(_ == '/') + 1
    }
  }

  private def flip(spark: SparkSession, root: String, cur: Int, next: Int,
      retainSnapshots: Int, abort: String => Nothing): Unit = {
    // compare-and-swap on conditional-write stores, re-check + atomic write
    // elsewhere (see casWritePointer)
    if (!GraftStore.casWritePointer(spark, root, cur, next))
      abort(s"concurrent commit detected on $root during publish " +
        s"(expected v$cur live) — staged version removed, retry")
    GraftStore.reclaim(spark, root, GraftStore.listVersions(spark, root)
      .filter(_ < next).takeRight(retainSnapshots).toSet + next)
  }
}
