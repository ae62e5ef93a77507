package graft.logs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.hadoop.fs.{FileSystem, Path}

/** The versioned store: one commit protocol on every Hadoop filesystem
  * (local disk, HDFS, object stores).
  *
  * Object stores have no atomic rename (rename is copy+delete, which
  * [[graft.sources.S3LiteFileSystem]] demonstrates in-sandbox), but a
  * single-object PUT IS atomic; filesystems have an atomic overwrite-rename.
  * So the store root holds version prefixes (`<root>/v000001`, `v000002`,
  * ...) plus one tiny pointer object `<root>/_current` naming the live
  * version; every store change ([[commit]], the one commit protocol)
  * stages the next version under the next prefix — invisible to readers,
  * who only ever list the pointed-at prefix — verifies it, then flips the
  * pointer with one atomic compare-and-swap write ([[casWritePointer]]).
  * Readers resolving at any instant get the complete old tree or the
  * complete new tree. This is the "current pointer"
  * commit (Iceberg's version-hint file); since round 6 a version may also
  * carry a partition→version manifest ([[readManifest]]) so maintenance
  * commits stage only DIRTY partitions — partition listing still comes from
  * the filesystem, the manifest only says which version prefixes to list.
  *
  * Read-side contract: `resolve` names the live version's own directory
  * (what appends write into). Every snapshot read — [[readStore]],
  * [[readVersion]] and its physical/tagged variants, [[rowDiff]]'s sides,
  * and `format("graft")` behind `y-logcli` — plans through the one snapshot
  * relation ([[graft.sources.GraftSourceProvider.snapshot]]): the
  * manifest-built file index (own + carried partitions), manifest-typed
  * partition columns, stats skipping, and deletion vectors.
  *
  * This is the one store tier: every store is created by [[init]] and
  * changes only by a version commit. A directory without `_current` (a
  * plain Spark-written parquet tree, a `_spark_metadata` sink output) is
  * not a store, and every store operation refuses it through
  * [[requireStore]].
  */
object GraftStore {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Recursive FILE walk via `listStatus`, replacing `fs.listFiles(p, true)`
    * (r17, guide §1.3 driver fixed cost): `listFiles` materializes
    * `LocatedFileStatus`, whose construction reads the permission field —
    * and on local filesystems without Hadoop's native library that FORKS an
    * `ls -ld` process PER FILE (~10 ms each; measured: a 90-file fresh hive
    * store listed in ~870 ms, the dominant non-write cost of the e2e
    * pipeline and a tax on every store commit's stats refresh). No caller
    * here reads permissions or block locations, so the plain `FileStatus`
    * walk is semantically identical and process-fork-free. Iterative,
    * allocation-light; traversal order is unspecified like the original.
    *
    * `dataOnly` is the one visibility rule of snapshot listings: skip every
    * hidden name ([[visibleName]]), so neither a hidden file nor anything
    * under a hidden directory (a `_spark_metadata/0` sink log, a
    * `_temporary` write) counts as data.
    */
  private[graft] def walkFiles(fs: FileSystem, p: Path,
      dataOnly: Boolean = false): Iterator[org.apache.hadoop.fs.FileStatus] =
    new Iterator[org.apache.hadoop.fs.FileStatus] {
      private val dirs = scala.collection.mutable.Stack[Path](p)
      private var buf: List[org.apache.hadoop.fs.FileStatus] = Nil
      private def fill(): Unit =
        while (buf.isEmpty && dirs.nonEmpty) {
          fs.listStatus(dirs.pop()).foreach { s =>
            if (dataOnly && !visibleName(s.getPath.getName)) ()
            else if (s.isDirectory) dirs.push(s.getPath) else buf ::= s
          }
        }
      def hasNext: Boolean = { fill(); buf.nonEmpty }
      def next(): org.apache.hadoop.fs.FileStatus = {
        fill(); val h = buf.head; buf = buf.tail; h
      }
    }

  val PointerName = "_current"
  val ManifestName = "_graft_manifest"
  val CommitInfoName = "_commit-info"
  val TxnDirName = "_graft_txns"

  /** Sibling directory suffixes for the streaming-dedup index stores
    * ([[graft.ext.StreamingDedup]]) — named here so store CREATION can
    * clear a dead store's surviving indexes (a fresh store has no seen
    * documents, so a dead store's index would drop its first ones).
    */
  val DedupIndexSuffix = "-dedup-index"
  val NearDupIndexSuffix = "-neardup-index"

  /** Staged-append directory prefix: a writer stages its part-files under
    * `<root>/_append-<id>` — the `_` prefix keeps the whole subtree
    * invisible to Spark listings AND to `listVersions`, so an in-flight or
    * crashed append is unreadable until (unless) a manifest references it.
    */
  val AppendPrefix = "_append-"

  /** Some(version) when `holder` is a version prefix, None for append dirs. */
  def holderVersion(holder: String): Option[Int] =
    if (holder.matches("v\\d{6}")) Some(holder.stripPrefix("v").toInt) else None

  private def fsOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  def versionPrefix(n: Int): String = f"v$n%06d"

  def isPointerStore(spark: SparkSession, root: String): Boolean = {
    val p = new Path(root, PointerName)
    fsOf(spark, p).exists(p)
  }

  /** The live version's own directory, `<root>/<version>` — where a
    * version's sidecars live and raw appends land.
    */
  def resolve(spark: SparkSession, root: String): String = {
    requireStore(spark, root)
    s"$root/${readPointer(spark, root)}"
  }

  /** Snapshot read (time travel, one step): the data root of a SPECIFIC
    * retained version. Commits keep the replaced version as a grace
    * snapshot until the next commit, so the previous snapshot stays
    * readable while (and after) the current one changes — `resolveVersion
    * (root, currentVersion - 1)` is the "as of before that compaction"
    * view. Fails fast when the version has been reclaimed.
    */
  def resolveVersion(spark: SparkSession, root: String, n: Int): String = {
    val (versions, _) = versionsOf(spark, root)
    require(versions.contains(n),
      s"version $n of $root is not on disk (retained: ${versions.mkString(",")})")
    versionDir(root, n)
  }

  /** Commit timestamp of a retained version (epoch millis).
    *
    * For the LIVE version it is the instant the pointer named it — the
    * `_current` object's mtime. Appends land in the live
    * version dir, so its file mtimes drift forward without bound; reading
    * the flip artifact instead keeps the commit instant fixed — otherwise
    * an as-of read BETWEEN a retention commit and a later append would
    * resolve to the PRE-retention snapshot and resurface expired rows.
    *
    * For superseded versions the newest OWN-object mtime serves: those
    * trees stopped changing at the flip that replaced them, so the value
    * is frozen, and it is ≤ the successor's flip time — preserving the
    * ordering `versionAsOf` needs.
    */
  def commitTimeOf(spark: SparkSession, root: String, n: Int): Long = {
    val cur = liveVersionOf(spark, root)
    // exact path first: a commit record written at publish time inside the
    // version dir (atomic-with-flip, mtime-independent); mtime heuristics
    // below serve only legacy stores written before the record existed
    readCommitInfo(spark, versionDir(root, n)).foreach { ci => return ci.millis }
    if (n == cur) {
      val p = new Path(root, PointerName)
      fsOf(spark, p).getFileStatus(p).getModificationTime
    } else {
      val p = new Path(resolveVersion(spark, root, n))
      val fs = fsOf(spark, p)
      var maxT = fs.getFileStatus(p).getModificationTime
      val it = walkFiles(fs, p)
      while (it.hasNext) maxT = math.max(maxT, it.next().getModificationTime)
      maxT
    }
  }

  /** Time travel by TIMESTAMP: the newest retained version committed at or
    * before `tsMillis` (Delta's `versionAsOf`/`timestampAsOf` pair).
    * Considers only versions up to the LIVE one — a staged-ahead prefix an
    * in-flight or crashed commit is writing is not a snapshot and must
    * never serve a read. Fails fast when every retained version is newer —
    * the snapshot that covered that instant has been vacuumed.
    */
  def versionAsOf(spark: SparkSession, root: String, tsMillis: Long): Int = {
    val (versions, cur) = versionsOf(spark, root)
    val committed = versions.filter(_ <= cur)
      .map(n => (n, commitTimeOf(spark, root, n)))
    val eligible = committed.filter(_._2 <= tsMillis)
    require(eligible.nonEmpty,
      s"no retained version of $root is as old as $tsMillis " +
        s"(oldest retained: ${committed.headOption.map(e =>
          s"v${e._1} @ ${e._2}").getOrElse("none")})")
    eligible.maxBy(e => (e._2, e._1))._1 // same-millis commits: higher version wins
  }

  /** Snapshot read at a timestamp: composite (manifest-aware) like
    * [[readVersion]].
    */
  def readAsOf(spark: SparkSession, root: String, tsMillis: Long): DataFrame =
    readVersion(spark, root, versionAsOf(spark, root, tsMillis))

  // ---- carried-partition manifest (incremental-commit support) ----------

  /** Carried-partition manifest of a version directory: `(holder, relPath)`
    * lines meaning "this snapshot ALSO includes the files under
    * `<root>/<holder>/<relPath>`". A holder is a version prefix (`v000007`,
    * written by incremental compaction / snapshot retention) or a staged
    * append directory (`_append-<id>`, written by the atomic writer commit)
    * — either way the snapshot INCLUDES those files without moving a byte.
    * The manifest lives INSIDE the version dir it describes, so the one-PUT
    * pointer flip publishes data and manifest atomically; its `_`-prefix
    * keeps it out of Spark's file listing. Absent manifest = self-contained
    * version (plain read) — the pre-incremental layout reads unchanged.
    */
  def readManifest(spark: SparkSession, versionDir: String): Seq[(String, String)] = {
    val p = new Path(versionDir, ManifestName)
    val fs = fsOf(spark, p)
    if (!fs.exists(p)) return Seq.empty
    val in = fs.open(p)
    val text = try new String(org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
    finally in.close()
    text.split('\n').toSeq.filter(_.nonEmpty).map { line =>
      val i = line.indexOf('\t')
      require(i > 0, s"corrupt manifest line in $p: '$line'")
      val h = line.substring(0, i)
      require(h.matches("v\\d{6}") ||
        (h.startsWith(AppendPrefix) && h.matches("_append-[A-Za-z0-9._-]+")),
        s"corrupt manifest holder in $p: '$line'")
      (h, line.substring(i + 1))
    }
  }

  /** Filesystem schemes where a single-object PUT publishes all-or-nothing
    * but rename is non-atomic copy+delete — the commit-primitive choice
    * flips between the two families.
    */
  private[logs] val objectStoreSchemes =
    Set("s3", "s3a", "s3n", "s3l", "gs", "wasb", "wasbs", "abfs", "abfss", "oss")

  /** Atomic manifest write. On object stores the single PUT (create) IS the
    * atomic primitive; on filesystems `create(overwrite)` truncates first —
    * a crash mid-write would leave a torn manifest whose missing carried
    * entries make vacuum delete live data — so there the write goes through
    * temp + rename ([[atomicWriteBytes]]).
    */
  def writeManifest(spark: SparkSession, versionDir: String,
      entries: Seq[(String, String)]): Unit = {
    entries.foreach { case (h, _) =>
      require(h.matches("v\\d{6}") || h.matches("_append-[A-Za-z0-9._-]+"),
        s"invalid manifest holder '$h'") }
    atomicWriteBytes(spark, new Path(versionDir, ManifestName),
      entries.map { case (h, rel) => s"$h\t$rel" }
        .mkString("\n").getBytes("UTF-8"))
  }

  /** Durable commit-id ledger (`_graft_txns/<id>` beside the versions): one
    * tiny marker object per
    * EXPLICIT commit id, holding the committed version. Replay detection
    * that scans retained versions' commit records is bounded by snapshot
    * retention — if maintenance commits while a streaming writer is down,
    * the version carrying the replayed batch's record is reclaimed and the
    * replay would commit TWICE. The ledger is append-only and survives
    * retention (Delta's `txn` action made explicit); markers are ~10 bytes,
    * so a year of one-minute micro-batches is ~5 MB of metadata.
    * Markers are written AFTER the pointer flip: a crash in between leaves
    * no marker, and the fallback scan still finds the just-flipped version.
    *
    * Lifecycle: the ledger lives INSIDE the root, so deleting the store
    * deletes it. Operational hazard, documented contract:
    * wiping a CHECKPOINT while keeping the store keeps its ledger too, so
    * the restarted query's batch 0 carries an already-recorded commit id
    * and is dropped as a replay — restart onto a surviving store with a
    * NEW checkpoint path, never a wiped one.
    */
  private def txnDir(root: String): Path = new Path(root, TxnDirName)

  /** Stable streaming-sink identity from a checkpoint path: the first 128
    * bits of SHA-256, hex. Commit ids embed this (`g<sinkId>-b<batchId>`),
    * so its width IS the collision budget between two checkpoints feeding
    * one store — a 32-bit hash would let two distinct checkpoints share
    * commit ids and silently drop the later query's batches as replays;
    * at 128 bits the birthday bound is ~2⁶⁴ checkpoints per store.
    *
    * Format note: this replaced a 32-bit murmur hex id. Ledger entries
    * recorded under the old format no longer match, so a stream that
    * crashed mid-commit UNDER THE OLD BUILD and restarts on this one
    * replays that one batch without the ledger guard (Spark's own
    * checkpoint commit log still covers the common restart). Accepted:
    * nothing deployed carries old-format ledgers, and keeping a legacy
    * fallback would cement the collision-prone format forever.
    */
  def sinkIdFor(checkpoint: String): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.digest(checkpoint.getBytes("UTF-8"))
      .take(16).map(b => f"${b & 0xff}%02x").mkString
  }

  private def txnVersion(spark: SparkSession, root: String,
      id: String): Option[Int] = {
    val p = new Path(txnDir(root), id)
    val fs = fsOf(spark, p)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(new String(org.apache.commons.io.IOUtils.toByteArray(in),
        "UTF-8").trim.toInt)
      finally in.close()
    }
  }

  /** Atomic metadata-object write — single PUT on object stores, temp +
    * overwrite-rename elsewhere (see [[writeManifest]]'s rationale): a
    * reader sees the old bytes or the new ones, never a missing or torn
    * object. Shared by the pointer, the manifest, the commit ledger and the
    * sidecars ([[FileStats]], [[DeleteVectors]]).
    */
  private[graft] def atomicWriteBytes(spark: SparkSession, p: Path,
      bytes: Array[Byte]): Unit = {
    val fs = fsOf(spark, p)
    val scheme = Option(p.toUri.getScheme).getOrElse("file")
    if (objectStoreSchemes.contains(scheme)) {
      val out = fs.create(p, true)
      try out.write(bytes) finally out.close()
      return
    }
    // a temp name of its own per write: two writers of one object (racing
    // store creators, a ledger heal beside a commit) each rename a COMPLETE
    // file into place, never the other's half-written one
    val tmp = new Path(p.getParent, s"${p.getName}.${java.util.UUID.randomUUID()}.tmp")
    val out = fs.create(tmp, false)
    try out.write(bytes) finally out.close()
    localDisk(fs) match {
      case Some(raw) =>
        // local disk: rename(2) replaces the target atomically. The
        // checksummed local FS's overwrite-rename deletes the target first —
        // a window where readers find NO object (an unreadable store, for
        // the pointer) — and a checksum file beside the target would not
        // match the new bytes; so the data renames through the raw FS and
        // no checksum is kept beside the object
        def crc(x: Path) = new Path(x.getParent, s".${x.getName}.crc")
        val (lt, lp) = (Path.getPathWithoutSchemeAndAuthority(tmp),
          Path.getPathWithoutSchemeAndAuthority(p))
        raw.delete(crc(lp), false)
        require(raw.rename(lt, lp), s"atomic rename $tmp -> $p failed")
        raw.delete(crc(lt), false)
      case None =>
        // overwrite-rename through FileContext: atomic replace on HDFS too,
        // where plain FileSystem.rename returns false on an existing
        // destination — a delete-then-rename fallback there would open a
        // crash window with NO live manifest (reads silently drop carried
        // partitions; vacuum loses the references protecting their versions)
        try {
          org.apache.hadoop.fs.FileContext
            .getFileContext(p.toUri, spark.sparkContext.hadoopConfiguration)
            .rename(tmp, p, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
        } catch {
          case _: org.apache.hadoop.fs.UnsupportedFileSystemException =>
            // no AbstractFileSystem binding (exotic scheme): POSIX-style
            // FileSystems overwrite atomically on plain rename
            require(fs.rename(tmp, p),
              s"atomic rename $tmp -> $p failed and $p has no FileContext binding")
        }
    }
  }

  /** The raw local filesystem under `fs` (through any filter/checksum
    * wrappers), when `fs` is local disk.
    */
  private def localDisk(fs: FileSystem): Option[org.apache.hadoop.fs.RawLocalFileSystem] =
    fs match {
      case raw: org.apache.hadoop.fs.RawLocalFileSystem => Some(raw)
      case f: org.apache.hadoop.fs.FilterFileSystem => localDisk(f.getRawFileSystem)
      case _ => None
    }

  /** Schema-overlay sidecar (add-column-without-rewrite, round 7): one
    * `name\ttypeDDL` line per column added AFTER data was written. Files
    * that physically lack an overlay column read it as NULL (the
    * Iceberg/Delta add-column contract — null backfill, no rewrite); files
    * written after the evolution carry the column physically and read it
    * as-is. Carried forward by every commit ([[commit]]) so evolved
    * columns survive appends and maintenance.
    */
  val SchemaOverlayName = "_graft_schema"

  /** `(column, typeDDL)` overlay entries of a version dir, in add order. */
  def readSchemaOverlay(spark: SparkSession, versionDir: String): Seq[(String, String)] = {
    val p = new Path(versionDir, SchemaOverlayName)
    val fs = fsOf(spark, p)
    if (!fs.exists(p)) return Seq.empty
    val in = fs.open(p)
    val text = try new String(org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
    finally in.close()
    text.split('\n').toSeq.filter(_.nonEmpty).map { line =>
      val i = line.indexOf('\t')
      require(i > 0, s"corrupt schema overlay line in $p: '$line'")
      (line.substring(0, i), line.substring(i + 1))
    }
  }

  def writeSchemaOverlay(spark: SparkSession, versionDir: String,
      cols: Seq[(String, String)]): Unit = {
    cols.foreach { case (n, t) =>
      require(n.matches("[A-Za-z_][A-Za-z0-9_]*"), s"invalid overlay column name '$n'")
      org.apache.spark.sql.types.DataType.fromDDL(t) // fail fast on bad DDL
    }
    val p = new Path(versionDir, SchemaOverlayName)
    val out = fsOf(spark, p).create(p, true)
    try out.write(cols.map { case (n, t) => s"$n\t$t" }
      .mkString("\n").getBytes("UTF-8"))
    finally out.close()
  }

  /** Bucket-layout sidecar ([[ClusterSpec.BucketBy]] rewrites): `key\tN`,
    * committed in the version dir beside the data it describes. The sidecar
    * is a CLAIM, not a contract — the read side
    * ([[graft.sources.GraftSourceProvider]]) honors it only after verifying
    * every snapshot file name parses a bucket id `< N` with Spark's own
    * parser, so a later plain append or an unbucketed carried partition
    * fails the claim open (ordinary scan) instead of producing a
    * wrong-partitioning plan. Version-scoped like the schema overlay: a
    * later non-bucketed rewrite simply doesn't carry it.
    */
  val BucketSpecName = "_graft_bucketspec"

  def writeBucketSpec(spark: SparkSession, versionDir: String,
      key: String, buckets: Int): Unit = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    val p = new Path(versionDir, BucketSpecName)
    val out = fsOf(spark, p).create(p, true)
    try out.write(s"$key\t$buckets".getBytes("UTF-8")) finally out.close()
  }

  /** `(key, buckets)` claimed by a version dir's sidecar, if any. */
  def readBucketSpec(spark: SparkSession, versionDir: String): Option[(String, Int)] = {
    val p = new Path(versionDir, BucketSpecName)
    val fs = fsOf(spark, p)
    if (!fs.exists(p)) return None
    val in = fs.open(p)
    val text = try new String(org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
    finally in.close()
    // malformed sidecar → fail the CLAIM open (ordinary unbucketed scan),
    // never the read: a bucket spec is an optimization hint, and one corrupt
    // sidecar must not hard-fail every read of the store (r16, ADVICE r15).
    // Deleting the sidecar is the recovery; logging names it.
    val i = text.indexOf('\t')
    if (i <= 0) {
      log.warn(s"ignoring corrupt bucket spec in $p ('$text'): " +
        "treating the store as unbucketed; delete the sidecar to silence this")
      return None
    }
    try Some((text.substring(0, i), text.substring(i + 1).trim.toInt))
    catch { case _: NumberFormatException =>
      log.warn(s"ignoring corrupt bucket spec in $p ('$text'): " +
        "treating the store as unbucketed; delete the sidecar to silence this")
      None
    }
  }

  /** Null-backfill overlay columns a frame's files do not carry physically,
    * so pre-evolution reads align with post-evolution ones without
    * `allowMissingColumns` (which would silently null genuine schema
    * mismatches too): compaction's per-leg reads and [[rowDiff]]'s sides.
    */
  private[logs] def applyOverlay(df: DataFrame,
      overlay: Seq[(String, String)]): DataFrame =
    overlay.foldLeft(df) { case (d, (n, t)) =>
      if (d.columns.contains(n)) d
      else d.withColumn(n,
        org.apache.spark.sql.functions.lit(null).cast(
          org.apache.spark.sql.types.DataType.fromDDL(t)))
    }

  /** One commit's metadata: the operation that produced the version, the
    * caller-supplied commit id (streaming sinks use `q<queryId>-b<batchId>`
    * for exactly-once replay detection), and the publish wall-clock.
    */
  final case class CommitInfo(op: String, id: String, millis: Long)

  /** Write the commit record INSIDE a staged version dir, before the flip
    * that publishes it — so the record becomes visible atomically with the
    * version itself and [[commitTimeOf]] does not depend on filesystem
    * mtimes (which coarse-mtime filesystems, copies, and backup restores
    * all scramble).
    */
  private def writeCommitInfo(spark: SparkSession, versionDir: String,
      info: CommitInfo): Unit = {
    val p = new Path(versionDir, CommitInfoName)
    val out = fsOf(spark, p).create(p, true)
    try out.write(s"${info.op}\t${info.id}\t${info.millis}".getBytes("UTF-8"))
    finally out.close()
  }

  def readCommitInfo(spark: SparkSession, versionDir: String): Option[CommitInfo] = {
    val p = new Path(versionDir, CommitInfoName)
    val fs = fsOf(spark, p)
    if (!fs.exists(p)) return None
    val in = fs.open(p)
    val text = try new String(org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
    finally in.close()
    text.trim.split('\t') match {
      case Array(op, id, millis) => Some(CommitInfo(op, id, millis.toLong))
      case _ => None // torn/foreign file: fall back to mtimes
    }
  }

  /** Versions whose files snapshot `n` reads: itself plus every version its
    * manifest carries partitions from.
    */
  def referencedVersions(spark: SparkSession, root: String, n: Int): Set[Int] = {
    val (versions, _) = versionsOf(spark, root)
    if (!versions.contains(n)) Set(n)
    else readManifest(spark, versionDir(root, n)).flatMap(e => holderVersion(e._1)).toSet + n
  }

  /** Append directories (staged-writer holders) snapshot `n` reads from.
    * Unreferenced ones are crashed-writer debris swept by [[vacuum]].
    */
  def referencedAppendDirs(spark: SparkSession, root: String, n: Int): Set[String] = {
    val (versions, _) = versionsOf(spark, root)
    if (!versions.contains(n)) Set.empty
    else readManifest(spark, versionDir(root, n)).map(_._1)
      .filter(_.startsWith(AppendPrefix)).toSet
  }

  /** TRANSITIVE closure of manifest references from `seed`: the versions
    * [[reclaim]] may keep as snapshots beside the retained ones. One level is
    * not enough: a version referenced by a retained snapshot may ITSELF
    * carry partitions from a still-older version, and it stays a snapshot
    * only while that one's partitions stay too — otherwise it would be
    * listed (and time-travelable) but unreadable.
    */
  def closureOf(spark: SparkSession, root: String, seed: Set[Int]): Set[Int] = {
    var keep = Set.empty[Int]
    var frontier = seed
    while (frontier.nonEmpty) {
      keep ++= frontier
      frontier = frontier.flatMap(n => referencedVersions(spark, root, n)) -- keep
    }
    keep
  }

  /** Physical directory of a manifest holder: the version prefix dir for
    * `vNNNNNN` holders, `<root>/<holder>` for staged append dirs.
    */
  private[logs] def holderDir(root: String, holder: String): String =
    holderVersion(holder).map(versionDir(root, _)).getOrElse(s"$root/$holder")

  /** Snapshot `n`'s rows: the scan of the snapshot relation
    * `format("graft")` reads ([[graft.sources.GraftSourceProvider.snapshot]]),
    * deletion vectors applied as a filter over it.
    */
  def readVersion(spark: SparkSession, root: String, n: Int): DataFrame =
    snapshotOf(spark, root, n).rows

  /** Physical read: the snapshot's rows as stored, WITHOUT deletion vectors
    * applied ([[DeleteVectors]]) — the fast-tier relation. Query paths use
    * [[readVersion]].
    *
    * @param files the snapshot's [[compositeEntries]] when the caller has
    *   already listed them; `None` lists them
    */
  def readVersionPhysical(spark: SparkSession, root: String, n: Int,
      files: Option[Seq[FileEntry]] = None): DataFrame =
    spark.baseRelationToDataFrame(snapshotOf(spark, root, n, files).fast)

  /** Physical read with the file/position metadata columns
    * ([[DeleteVectors.PathCol]]/[[DeleteVectors.PosCol]]) retained —
    * delete/merge commits match rows through this and build vectors from
    * the retained positions.
    */
  private[graft] def readVersionTagged(spark: SparkSession, root: String,
      n: Int, files: Option[Seq[FileEntry]] = None): DataFrame =
    DeleteVectors.tagMeta(readVersionPhysical(spark, root, n, files))

  private def snapshotOf(spark: SparkSession, root: String, n: Int,
      files: Option[Seq[FileEntry]] = None) =
    graft.sources.GraftSourceProvider.snapshot(spark, root, n, files = files)

  /** Row count of `df` by scanning it — for commit and audit checks, which
    * must read the data files: a plain `count()` over a snapshot relation
    * may be answered from the stats sidecar
    * ([[graft.plans.GraftMetadataAggregate]]), the very metadata such a
    * check verifies.
    */
  private[graft] def scanCount(df: DataFrame): Long =
    df.select().queryExecution.toRdd.count()

  /** DataFrame read of the live snapshot: [[readVersion]] of the live
    * version.
    */
  def readStore(spark: SparkSession, root: String): DataFrame =
    readVersion(spark, root, liveVersionOf(spark, root))

  /** Hidden/metadata names (`_SUCCESS`, `_graft_manifest`, `.crc`, trash)
    * are invisible to Spark's file listing and to store accounting.
    */
  private[logs] def visibleName(n: String): Boolean =
    !n.startsWith("_") && !n.startsWith(".")

  /** Physical DATA files of snapshot `n` (own + carried), keyed by
    * store-layout-relative path: a carried file keeps the SAME key across
    * versions, so a snapshot diff shows it as unchanged — carried by
    * reference, not rewritten — while rewritten files (fresh task UUID
    * names) show as removed+added. Metadata objects (`_SUCCESS`, the
    * manifest itself) are excluded: the audit view and the rewritten-bytes
    * accounting are about data.
    */
  private def compositeFiles(spark: SparkSession, root: String, n: Int): Map[String, Long] =
    compositeEntries(spark, root, n).map(e => (e.key, e.len)).toMap

  /** One physical data file of a snapshot: its store-layout-relative key,
    * the leg base dir partition columns derive from (`basePath` for reads),
    * its full physical path, and its length.
    */
  private[graft] final case class FileEntry(key: String, legBase: String,
      physical: String, len: Long, mtime: Long = 0L)

  private[graft] def compositeEntries(spark: SparkSession, root: String,
      n: Int): Seq[FileEntry] = {
    def list(dir: String, keyPrefix: String, legBase: String): Seq[FileEntry] = {
      val p = new Path(dir)
      val fs = fsOf(spark, p)
      if (!fs.exists(p)) return Seq.empty
      val base = p.toUri.getPath
      walkFiles(fs, p, dataOnly = true).map { f =>
        FileEntry(keyPrefix + f.getPath.toUri.getPath.stripPrefix(base),
          legBase, f.getPath.toString, f.getLen, f.getModificationTime)
      }.toSeq
    }
    val dir = resolveVersion(spark, root, n)
    val own = list(dir, "", dir)
    val carried = readManifest(spark, dir).flatMap { case (h, rel) =>
      val hd = holderDir(root, h)
      list(s"$hd/$rel", s"/$rel", hd)
    }
    own ++ carried
  }

  /** Live version number; unlike [[currentVersion]] it refuses a
    * non-store directory with an `IllegalArgumentException` instead of a
    * missing-file error.
    */
  def liveVersionOf(spark: SparkSession, root: String): Int = {
    requireStore(spark, root)
    currentVersion(spark, root)
  }

  /** True when the live snapshot references no data files at all — a fresh
    * store before its first commit (streaming sinks create the store, then
    * batches land). Listing-bounded, no data read.
    */
  def isDataless(spark: SparkSession, root: String): Boolean = {
    compositeEntries(spark, root, liveVersionOf(spark, root)).isEmpty
  }

  /** One row per retained version, with the live one flagged. */
  final case class SnapshotInfo(version: Int, current: Boolean, files: Long, bytes: Long)

  /** Inventory of retained snapshots: version
    * number, whether it is the live one, and its composite file count /
    * byte size (own + carried partitions; listing-bounded, not a data
    * scan).
    */
  def snapshots(spark: SparkSession, root: String): Seq[SnapshotInfo] = {
    val (versions, cur) = versionsOf(spark, root)
    versions.map { n =>
      val fl = compositeFiles(spark, root, n)
      SnapshotInfo(n, n == cur, fl.size.toLong, fl.values.sum)
    }
  }

  /** What a maintenance commit changed between two retained snapshots:
    * file-level adds/removes (by version-relative path; a rewritten file
    * counts on both sides) plus the net ROW delta read from the data
    * itself. The row delta is the audit invariant operators care about:
    * compaction must show 0, retention shows exactly the expired rows —
    * a nonzero delta after a compact is data loss, caught here before
    * the grace snapshot is reclaimed.
    */
  final case class SnapshotDiff(from: Int, to: Int,
      added: Seq[String], removed: Seq[String],
      bytesAdded: Long, bytesRemoved: Long, rowDelta: Long)

  def diffVersions(spark: SparkSession, root: String, from: Int, to: Int): SnapshotDiff = {
    val a = compositeFiles(spark, root, from)
    val b = compositeFiles(spark, root, to)
    val added = (b.keySet -- a.keySet).toSeq.sorted
    val removed = (a.keySet -- b.keySet).toSeq.sorted
    SnapshotDiff(from, to, added, removed,
      bytesAdded = added.map(b).sum, bytesRemoved = removed.map(a).sum,
      rowDelta = scanCount(readVersion(spark, root, to)) -
        scanCount(readVersion(spark, root, from)))
  }

  /** Row-level CDC between two retained snapshots: every row added or
    * removed from `from` to `to`, tagged `_change` = `added` | `removed`,
    * with multiset semantics (a row present twice and then once is one
    * `removed`). `_change` is a RESERVED output name: a store whose data
    * schema already contains it fails fast rather than having the column
    * silently overwritten.
    *
    * Scale shape: the file-level diff prunes first — only files whose
    * store-layout key changed between the snapshots are read at all, so a
    * one-partition retention or compaction on a 10⁴-partition store scans
    * one partition's worth of data, not the store. Rewritten-in-place
    * partitions (compaction) read on both sides but cancel in the
    * count-delta aggregate (one hash shuffle over the changed rows only,
    * both directions from a single scan of each side): a clean
    * compaction yields an EMPTY frame, which is the audit invariant —
    * `diffVersions.rowDelta == 0` proves counts, `rowDiff.isEmpty` proves
    * contents.
    */
  def rowDiff(spark: SparkSession, root: String, from: Int, to: Int): DataFrame = {
    import org.apache.spark.sql.functions.lit
    val a = compositeEntries(spark, root, from).map(e => (e.key, e)).toMap
    val b = compositeEntries(spark, root, to).map(e => (e.key, e)).toMap
    // deletion vectors are part of a snapshot's row content: a delete commit
    // changes no files, but a file whose vector differs between the
    // snapshots must be read (vector-applied) on both sides so the CDC
    // shows exactly the deleted rows as `removed`
    val dvA = DeleteVectors.read(spark, resolveVersion(spark, root, from))
    val dvB = DeleteVectors.read(spark, resolveVersion(spark, root, to))
    // same store-layout key + same length = same immutable file: every
    // write uses fresh task-UUID names, and a manifest carry changes the
    // physical holder WITHOUT changing the file — comparing physical paths
    // would un-prune every carried partition. A same-key length change (an
    // overwrite the engine never performs) still counts as changed on both
    // sides.
    val touched = (a.keySet ++ b.keySet).filter { k =>
      (a.get(k), b.get(k)) match {
        case (Some(x), Some(y)) => x.len != y.len || dvA.get(k) != dvB.get(k)
        case _ => true
      }
    }
    // schema alignment across an evolution commit: back-fill BOTH sides
    // with the union of the two snapshots' overlays, so pre-evolution rows
    // compare (col = null) against post-evolution rows instead of failing
    // the union — an add-column commit then diffs to ZERO rows, which is
    // the correct CDC statement for a metadata-only change
    val overlays =
      (readSchemaOverlay(spark, resolveVersion(spark, root, from)) ++
        readSchemaOverlay(spark, resolveVersion(spark, root, to))).distinct
    // each side reads the snapshot relation restricted to its touched files
    // (the vectors of untouched files match no row there)
    def readSide(n: Int, m: Map[String, FileEntry]): Option[DataFrame] = {
      val side = touched.intersect(m.keySet).toSeq.sorted.map(m)
      Option.when(side.nonEmpty)(applyOverlay(graft.sources.GraftSourceProvider
        .snapshot(spark, root, n, files = Some(side)).rows, overlays))
    }
    // `_change` is the diff's RESERVED output name (the working columns
    // below collision-proof themselves via free(), but the output tag is
    // part of the public contract and cannot be renamed per-store): fail
    // fast instead of silently overwriting a data column of that name
    def reserveChange(df: DataFrame): DataFrame = {
      require(!df.columns.contains("_change"),
        s"rowDiff reserves the output column `_change`, but the store at $root " +
          "already has a data column of that name")
      df
    }
    val tagged = (readSide(from, a).map(reserveChange),
        readSide(to, b).map(reserveChange)) match {
      case (Some(f), Some(t)) =>
        // ONE scan per side: a t.exceptAll(f) / f.exceptAll(t) pair would
        // each rewrite to its own union+count aggregate, scanning every
        // touched file twice. Tagging sides ±1 and expanding the summed
        // delta is the same rewrite Catalyst applies INSIDE one exceptAll,
        // shared across both directions — identical multiset output
        // (delta copies of "added" when t has more, |delta| of "removed"
        // when f has more).
        import org.apache.spark.sql.functions.{abs, col, explode, least, sequence, shiftright, sum, when}
        val cols = t.columns.toSeq
        // working columns must not shadow user data columns (a data column
        // literally named "_delta" would silently corrupt the diff)
        def free(base: String): String =
          Iterator.iterate(base)("_" + _).find(!cols.contains(_)).get
        val side = free("_side")
        val delta = free("_delta")
        val chunk = free("_chunk")
        val dup = free("_dup")
        // two-level expansion: sequence() materializes one in-memory array
        // per row, and a single |delta|-long array would hit the sequence
        // length cap (and executor memory) when one distinct row's
        // multiplicity differs by tens of millions — e.g. a bulk duplicate
        // re-ingest. Chunking bounds every array to `step` elements while
        // the generate operators stream the rows.
        // power-of-two step: shiftright is exact long floor-division
        // (Column `/` is double division, inexact past 2^53)
        val stepBits = 12
        val step = 1L << stepBits
        val n = abs(col(delta))
        f.withColumn(side, lit(-1L))
          .unionByName(t.withColumn(side, lit(1L)))
          .groupBy(cols.map(col): _*)
          .agg(sum(col(side)).as(delta))
          .filter(col(delta) =!= 0L)
          .withColumn(chunk, explode(sequence(lit(0L), shiftright(n - 1L, stepBits))))
          .withColumn(dup, explode(sequence(lit(1L),
            least(lit(step), n - col(chunk) * step))))
          .withColumn("_change",
            when(col(delta) > 0L, lit("added")).otherwise(lit("removed")))
          .select(cols.map(col) :+ col("_change"): _*)
      case (Some(f), None) => f.withColumn("_change", lit("removed"))
      case (None, Some(t)) => t.withColumn("_change", lit("added"))
      case (None, None) =>
        reserveChange(readVersion(spark, root, to).limit(0))
          .withColumn("_change", lit(""))
    }
    tagged
  }

  /** Reclaim grace snapshots NOW instead of at the next commit: keeps the
    * live version, the newest `retain` snapshots below it (multi-step time
    * travel) and any staged-ahead version an in-flight commit may still be
    * writing, and reclaims everything else ([[reclaim]]). Returns the
    * versions that stopped being snapshots. Readers mid-scan on a dropped
    * snapshot lose their files — same contract as Delta/Iceberg VACUUM; the
    * default (retain 0, do nothing) already reclaims at the next commit.
    */
  def vacuum(spark: SparkSession, root: String, retain: Int = 0,
      orphanAppendAgeMillis: Long = 24L * 3600 * 1000): Seq[Int] =
    MaintenanceLease.withLease(spark, root, "vacuum") {
      val (versions, cur) = versionsOf(spark, root)
      val dropped = reclaim(spark, root, versions.filter(_ >= cur).toSet ++
        versions.filter(_ < cur).takeRight(retain))
      sweepOrphanAppendDirs(spark, root, orphanAppendAgeMillis)
      dropped
    }

  /** Root-level marker object `_retired-vNNNNNN`: version N is no longer a
    * snapshot. Its directory stays only as the HOLDER of partitions that
    * retained snapshots carry from it; [[reclaim]] deletes the rest of its
    * data. The marker is written before the first delete, so no crash can
    * leave a listed snapshot with partitions missing.
    */
  val RetiredPrefix = "_retired-"

  /** Reclaim after a commit (and in [[vacuum]]): every snapshot in `retain`
    * stays whole — its own directory plus what its manifest carries — and
    * every data file none of them reads is deleted.
    *
    * Manifests name the PHYSICAL holder of each carried partition, so the
    * retained snapshots' manifests alone say which partitions of other
    * version prefixes and `_append-*` dirs are still read. A version those
    * manifests reference (the [[closureOf manifest closure]]) stays a
    * snapshot while that costs no byte — all its own data and every
    * partition it carries are read anyway. Otherwise it is retired to a
    * holder and its unread partitions go: the small files a compaction
    * replaced, the partitions a retention commit expired. Unreferenced
    * versions are deleted whole; unreferenced append dirs are left to
    * [[sweepOrphanAppendDirs]] and its age guard. Returns the versions that
    * stopped being snapshots.
    */
  def reclaim(spark: SparkSession, root: String, retain: Set[Int]): Seq[Int] = {
    val rootPath = new Path(root)
    val fs = fsOf(spark, rootPath)
    val (dirs, retired) = versionEntries(fs, rootPath)
    val listed = dirs.filterNot(retired)
    val seed = retain.filter(listed.contains)
    // holder -> the partitions the retained snapshots read from it
    val read: Map[String, Set[String]] = seed.toSeq
      .flatMap(n => readManifest(spark, versionDir(root, n)))
      .groupMap(_._1)(e => e._2.stripPrefix("/").stripSuffix("/"))
      .map { case (h, rels) => (h, rels.toSet) }
    def unread(holder: String): Seq[Path] =
      unreadUnder(fs, new Path(root, holder), read.getOrElse(holder, Set.empty))
    def isRead(holder: String, rel: String): Boolean =
      holderVersion(holder).exists(seed) || read.get(holder).exists { rels =>
        rel.stripPrefix("/").stripSuffix("/").split('/').inits
          .exists(seg => rels(seg.mkString("/")))
      }
    val free = (closureOf(spark, root, seed) -- seed).filter(listed.contains).filter { n =>
      unread(versionPrefix(n)).isEmpty &&
        readManifest(spark, versionDir(root, n)).forall { case (h, rel) => isRead(h, rel) }
    }
    val snapshots = seed ++ free
    dirs.filterNot(snapshots).foreach { n =>
      val h = versionPrefix(n)
      val marker = new Path(root, RetiredPrefix + h)
      if (!read.contains(h)) {
        fs.delete(new Path(root, h), true)
        if (retired(n)) fs.delete(marker, false)
      } else {
        if (!retired(n)) fs.create(marker, true).close()
        unread(h).foreach(fs.delete(_, true))
      }
    }
    read.keys.filter(_.startsWith(AppendPrefix))
      .foreach(h => unread(h).foreach(fs.delete(_, true)))
    // markers whose directory a crashed reclaim already deleted
    retired.filterNot(dirs.contains)
      .foreach(n => fs.delete(new Path(root, RetiredPrefix + versionPrefix(n)), false))
    listed.filterNot(snapshots)
  }

  /** Visible entries under `dir` outside every partition in `rels` (paths
    * relative to `dir`; `""` is the whole dir), each at the shallowest level
    * that holds none of them — one listing per directory on the way down to
    * a read partition, never a walk of the partitions themselves.
    */
  private def unreadUnder(fs: FileSystem, dir: Path, rels: Set[String]): Seq[Path] = {
    val above = rels.flatMap(_.split('/').inits.drop(1).map(_.mkString("/")))
    def walk(d: Path, rel: String): Seq[Path] =
      fs.listStatus(d).toSeq.filter(s => visibleName(s.getPath.getName)).flatMap { s =>
        val q = if (rel.isEmpty) s.getPath.getName else s"$rel/${s.getPath.getName}"
        if (rels(q)) Seq.empty
        else if (s.isDirectory && above(q)) walk(s.getPath, q)
        else Seq(s.getPath)
      }
    if (rels("") || !fs.exists(dir)) Seq.empty else walk(dir, "")
  }

  /** Reclaim staged-append directories no listed version references —
    * crashed or abandoned writers. The age guard is the Delta-VACUUM
    * contract: a LIVE writer's staging is also unreferenced until its
    * publish, so only dirs whose newest file is older than
    * `minAgeMillis` are swept (default 24 h; tests pass 0 with writers
    * quiescent).
    */
  private[logs] def sweepOrphanAppendDirs(spark: SparkSession, root: String,
      minAgeMillis: Long): Seq[String] = {
    val cutoff = System.currentTimeMillis() - minAgeMillis
    def newestMtime(fs: FileSystem, dir: Path): Long = {
      var t = fs.getFileStatus(dir).getModificationTime
      val it = walkFiles(fs, dir)
      while (it.hasNext) t = math.max(t, it.next().getModificationTime)
      t
    }
    val rootPath = new Path(root)
    val fs = fsOf(spark, rootPath)
    val referenced = listVersions(spark, root)
      .flatMap(n => readManifest(spark, versionDir(root, n)).map(_._1)).toSet
    fs.listStatus(rootPath).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(AppendPrefix))
      .filterNot(s => referenced(s.getPath.getName))
      .filter(s => newestMtime(fs, s.getPath) < cutoff)
      .map { s => fs.delete(s.getPath, true); s.getPath.toString }
  }

  /** Refuses, with an `IllegalArgumentException` naming `root`, anything
    * that is not a store: a missing path, or a directory without the
    * `_current` pointer. Store jobs call it before they touch the root.
    */
  def requireStore(spark: SparkSession, root: String): Unit =
    require(isPointerStore(spark, root),
      s"$root is not a versioned store (no $PointerName pointer)")

  /** (retained versions, live version) of a versioned store; refuses
    * non-store directories.
    */
  private def versionsOf(spark: SparkSession, root: String): (Seq[Int], Int) = {
    requireStore(spark, root)
    (listVersions(spark, root), currentVersion(spark, root))
  }

  private def versionDir(root: String, n: Int): String = s"$root/${versionPrefix(n)}"

  def readPointer(spark: SparkSession, root: String): String = {
    val p = new Path(root, PointerName)
    val in = fsOf(spark, p).open(p)
    val v = try new String(org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8").trim
    finally in.close()
    require(v.matches("v\\d{6}"), s"corrupt pointer $p: '$v'")
    v
  }

  def currentVersion(spark: SparkSession, root: String): Int =
    readPointer(spark, root).stripPrefix("v").toInt

  /** THE commit: name version `n` live in one atomic write — a single PUT
    * on object stores, temp + overwrite-rename on filesystems
    * ([[atomicWriteBytes]]). A plain `create(overwrite)` truncates first, so
    * a reader landing between truncate and write (or a crash there) would
    * find an empty pointer and no live version at all.
    */
  def writePointer(spark: SparkSession, root: String, n: Int): Unit =
    atomicWriteBytes(spark, new Path(root, PointerName),
      versionPrefix(n).getBytes("UTF-8"))

  /** Compare-and-swap pointer flip: publish version `next` only if the
    * pointer STILL names `expected` at the instant of the write. On a
    * filesystem with conditional writes ([[graft.sources.ConditionalWrites]]
    * — the S3 `If-Match` contract) this is exact: the precondition rides
    * the PUT itself, so no interleaving between a writer's re-check and its
    * flip can lose an update (the window Delta-on-S3 closes with an
    * external LogStore). Elsewhere it degrades to re-check +
    * [[writePointer]] — best-effort, explicitly documented as such. Returns false
    * (nothing written, staged data intact) when a racing commit won.
    */
  def casWritePointer(spark: SparkSession, root: String,
      expected: Int, next: Int): Boolean = {
    val p = new Path(root, PointerName)
    fsOf(spark, p) match {
      case cw: graft.sources.ConditionalWrites =>
        cw.readWithTag(p) match {
          case Some((bytes, tag))
              if new String(bytes, "UTF-8").trim == versionPrefix(expected) =>
            cw.putIfTag(p, versionPrefix(next).getBytes("UTF-8"), Some(tag))
          case _ => false // pointer already moved (or unreadable): lose cleanly
        }
      case _ =>
        if (currentVersion(spark, root) != expected) false
        else { writePointer(spark, root, next); true }
    }
  }

  /** The live snapshot a [[commit]] stages its successor from, listed once:
    * its version, its directory and its data files, own and carried. The
    * sidecars are read on first use.
    */
  final class Live private[GraftStore] (spark: SparkSession, root: String,
      val version: Int, val entries: Seq[FileEntry]) {
    val prefix: String = versionPrefix(version)
    val dir: String = versionDir(root, version)
    /** Where the successor is staged; an operation may write data here. */
    val nextDir: String = versionDir(root, version + 1)
    lazy val manifest: Seq[(String, String)] = readManifest(spark, dir)
    lazy val overlay: Seq[(String, String)] = readSchemaOverlay(spark, dir)
    lazy val vectors: Map[String, DeleteVectors.Dv] = DeleteVectors.read(spark, dir)
    lazy val stats: Map[String, FileStats.FileStat] = FileStats.read(spark, dir)

    /** Every live partition as a manifest entry: the version's own
      * `depth`-level partition dirs, then what its manifest carries.
      */
    def carryAll(depth: Int): Seq[(String, String)] =
      Compaction.leavesOf(entries.filter(_.legBase == dir).map(_.key), depth)
        .map((prefix, _)) ++ manifest

    /** Stored rows of `files` (deletion vectors not applied). */
    def physicalRows(files: Seq[FileEntry] = entries): Long =
      FileStats.physicalRows(spark, root, version, files, stats)
  }

  /** What one operation stages as the next version.
    *
    * @param value what [[commit]] returns once the version is live
    * @param rows the stored rows (deletion vectors not applied) the staged
    *   snapshot must hold
    * @param manifest the `(holder, partition)` entries the version carries
    * @param overlay the version's schema overlay; `None` carries the live one
    * @param vectors the version's deletion vectors; `None` carries the live
    *   ones. Vectors of files the snapshot no longer holds are dropped.
    * @param stats stats lines of the files the operation staged, so the
    *   sidecar refresh reads none of their footers again
    * @param check runs on the staged snapshot's files just before the flip;
    *   a throw aborts the commit
    * @param sweepAppendDirs after the reclaim, still under the lease, also
    *   delete the `_append-*` dirs no version references any more
    *   ([[sweepOrphanAppendDirs]], 24 h age guard) — what a compaction that
    *   absorbed them leaves behind
    */
  final case class Staged[T](value: T, rows: Long, manifest: Seq[(String, String)],
      overlay: Option[Seq[(String, String)]] = None,
      vectors: Option[Map[String, DeleteVectors.Dv]] = None,
      stats: Seq[FileStats.FileStat] = Nil,
      check: Seq[FileEntry] => Unit = _ => (),
      sweepAppendDirs: Boolean = false)

  /** THE commit protocol: append, delete, merge, compaction, retention and
    * add-column all change a store through it, and `stage` decides only
    * what the next version holds. In order:
    *
    *  1. validate `commitId` and require a store. A commit id already
    *     committed returns `Left(version)` and writes nothing: the
    *     `_graft_txns` ledger answers first (it survives snapshot
    *     retention), then the commit records of the retained versions up to
    *     the live one, a hit there being written back to the ledger;
    *  2. `prepare` runs outside the lease (an append stages its data there);
    *     `Left` ends the commit with that value;
    *  3. take the [[MaintenanceLease]] (`leaseAttempts` tries), check for a
    *     replay again, and delete the version dirs ahead of the pointer:
    *     no healthy commit stages without the lease, so they are debris of
    *     a crashed one;
    *  4. list the live snapshot once ([[Live]]) and hand it to `stage`,
    *     which may write data into [[Live.nextDir]]; `Left` ends the commit
    *     with nothing staged;
    *  5. write the next version's manifest, schema overlay, commit record
    *     (`commitId`, or a fresh UUID), deletion vectors and stats; list it,
    *     and require [[Staged.rows]] stored rows, then [[Staged.check]];
    *  6. flip `_current` with one compare-and-swap ([[casWritePointer]]);
    *  7. record `commitId` in the ledger, and [[reclaim]] what neither the
    *     new version nor the newest `retain` versions below it read (plus
    *     the orphaned append dirs, when [[Staged.sweepAppendDirs]]).
    *
    * A failure in 4–5 or a lost flip deletes the staged version. A crash,
    * which cleans nothing up, leaves the old snapshot live before the flip
    * and the new one after it; either way the next commit goes through
    * (step 3 sweeps a staged version, step 1 finds a flipped but unrecorded
    * commit id).
    */
  def commit[P, T](spark: SparkSession, root: String, op: String,
      commitId: Option[String], leaseAttempts: Int, retain: Int,
      prepare: => Either[T, P])(
      stage: (Live, P) => Either[T, Staged[T]]): Either[Int, T] = {
    commitId.foreach { id =>
      require(id.matches("[A-Za-z0-9._-]+"), s"commit id '$id' must be [A-Za-z0-9._-]+")
    }
    requireStore(spark, root)
    val fs = fsOf(spark, new Path(root))
    def recordTxn(id: String, version: Int): Unit = {
      fs.mkdirs(txnDir(root))
      atomicWriteBytes(spark, new Path(txnDir(root), id),
        version.toString.getBytes("UTF-8"))
    }
    def replayed(): Option[Int] = commitId.flatMap { id =>
      txnVersion(spark, root, id).orElse {
        val cur = currentVersion(spark, root)
        val hit = listVersions(spark, root).filter(_ <= cur)
          .filter(n => readCommitInfo(spark, versionDir(root, n)).exists(_.id == id))
          .maxOption
        hit.foreach(recordTxn(id, _))
        hit
      }
    }
    replayed().foreach(v => return Left(v))
    val prepared = prepare match {
      case Left(t) => return Right(t)
      case Right(p) => p
    }
    MaintenanceLease.withLeaseRetry(spark, root, op, leaseAttempts) {
      replayed().foreach(v => return Left(v))
      val cur = currentVersion(spark, root)
      listVersions(spark, root).filter(_ > cur)
        .foreach(n => fs.delete(new Path(versionDir(root, n)), true))
      val live = new Live(spark, root, cur, compositeEntries(spark, root, cur))
      val next = cur + 1
      val staged = try {
        val s = stage(live, prepared) match {
          case Left(t) => return Right(t)
          case Right(s) => s
        }
        if (s.manifest.nonEmpty)
          writeManifest(spark, live.nextDir, s.manifest.sortBy(e => (e._2, e._1)))
        val overlay = s.overlay.getOrElse(live.overlay)
        if (overlay.nonEmpty) writeSchemaOverlay(spark, live.nextDir, overlay)
        writeCommitInfo(spark, live.nextDir, CommitInfo(op,
          commitId.getOrElse(java.util.UUID.randomUUID().toString),
          System.currentTimeMillis()))
        val nextEntries = compositeEntries(spark, root, next)
        val keys = nextEntries.map(_.key).toSet
        DeleteVectors.write(spark, live.nextDir,
          s.vectors.getOrElse(live.vectors).filter { case (k, _) => keys(k) })
        val stats = FileStats.refreshInto(spark, live.nextDir, nextEntries,
          live.stats ++ s.stats.map(st => st.key -> st))
        val rows = FileStats.physicalRows(spark, root, next, nextEntries,
          stats.map(st => st.key -> st).toMap)
        if (rows != s.rows)
          throw new IllegalStateException(s"$op staged $rows rows, expected " +
            s"${s.rows}; aborting with ${live.dir} live")
        s.check(nextEntries)
        s
      } catch {
        case scala.util.control.NonFatal(e) =>
          try fs.delete(new Path(live.nextDir), true)
          catch { case scala.util.control.NonFatal(d) => e.addSuppressed(d) }
          throw e
      }
      if (!casWritePointer(spark, root, cur, next)) {
        fs.delete(new Path(live.nextDir), true)
        throw new IllegalStateException(s"concurrent commit detected on $root " +
          s"during $op publish (expected v$cur live); staged version removed — retry")
      }
      commitId.foreach(recordTxn(_, next))
      reclaim(spark, root,
        listVersions(spark, root).filter(_ < next).takeRight(retain).toSet + next)
      if (staged.sweepAppendDirs) sweepOrphanAppendDirs(spark, root, 24L * 3600 * 1000)
      Right(staged.value)
    }
  }

  /** Create an empty pointer store (version 1). */
  def init(spark: SparkSession, root: String): Unit = {
    val rootPath = new Path(root)
    val fs = fsOf(spark, rootPath)
    require(!fs.exists(new Path(root, PointerName)), s"$root is already a pointer store")
    fs.mkdirs(new Path(root, versionPrefix(1)))
    writePointer(spark, root, 1)
  }

  /** Snapshot version numbers under the root (current, staged-ahead,
    * stale) — every version directory not marked retired.
    */
  def listVersions(spark: SparkSession, root: String): Seq[Int] = {
    val rootPath = new Path(root)
    val (dirs, retired) = versionEntries(fsOf(spark, rootPath), rootPath)
    dirs.filterNot(retired)
  }

  /** Version directories under the root, and the versions marked retired
    * ([[RetiredPrefix]]), from one listing.
    */
  private def versionEntries(fs: FileSystem, rootPath: Path): (Seq[Int], Set[Int]) = {
    if (!fs.exists(rootPath)) return (Seq.empty, Set.empty)
    val names = fs.listStatus(rootPath).toSeq.map(_.getPath.getName)
    val retired = s"$RetiredPrefix(v\\d{6})".r
    (names.collect { case n if n.matches("v\\d{6}") => n.stripPrefix("v").toInt }.sorted,
      names.collect { case retired(v) => v.stripPrefix("v").toInt }.toSet)
  }
}
