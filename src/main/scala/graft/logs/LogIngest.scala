package graft.logs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.hadoop.fs.{FileSystem, Path}

/** Batch ingestion: CRI log files → partitioned parquet (SURVEY §2 rows
  * S1-S5, K1, K7; §3.2).
  *
  * Scale notes: parsing is one `split` pass + one codegen timestamp
  * expression per line (whole-stage codegen end to end, no UDFs); the write
  * partitions on low-cardinality columns first (cluster/namespace/date/hour)
  * so directory fan-out stays bounded and namespace queries prune at the
  * listing level; `maxRecordsPerFile` bounds file size like the reference's
  * `total_file_size 1M` (fluent-bit.conf:42,59).
  */
object LogIngest {

  /** Kubernetes CRI pod-log path grammar (reference fluent-bit.conf:12-14
    * `Tag_Regex`): `/var/log/pods/<namespace>_<pod>_<pod_uid>/<container>/N.log`.
    * `regexp_extract` matches with `find`, so the pattern has no leading
    * `.*`: its classes exclude `/` and it ends at `$`, so `/pods/` can only
    * match as the fourth segment from the end. A leading `.*` would only
    * add a backtrack over the whole path to each of the four extracts of
    * every ingested line.
    */
  val podPathRegex = "/pods/([^_/]+)_([^_/]+)_([^_/]+)/([^/]+)/[^/]+\\.log$"

  /** Path exclusion — fluent-bit excludes its own logs to avoid a feedback
    * loop (fluent-bit.conf:15-16): a path with a `/pods/` segment whose
    * next directory names fluent-bit.
    */
  val defaultExcludeRegex = "/pods/[^/]*fluent-bit[^/]*/"

  /** Max line length guard ≙ `Skip_Long_Lines On` + 2M buffer cap
    * (fluent-bit.conf:18-20).
    */
  val defaultMaxLineBytes = 2 * 1024 * 1024

  /** Read raw CRI files and produce the canonical log DataFrame with path
    * metadata columns (see [[criFrame]]) and the `date`/`hour` partition
    * columns.
    *
    * @param excludeRegex paths it matches are skipped. Matching uses
    *   `find` (Spark's `rlike`), so the pattern need not cover the whole
    *   path, and a leading `.*` only adds cost: on a path that does not
    *   match, `find` retries the `.*` from every start position. On a
    *   ~130-byte path that cost 160–240 µs per line in a `find` loop on a
    *   busy 4-core host, against about 2 µs without it.
    */
  def readCri(spark: SparkSession, glob: String, clusterName: String,
      nodeName: String = "local-node",
      excludeRegex: String = defaultExcludeRegex,
      maxLineBytes: Int = defaultMaxLineBytes): DataFrame =
    criFrame(spark.read.text(glob), clusterName, nodeName, excludeRegex, maxLineBytes)
      .withColumn("date", date_format(col("time"), "yyyy-MM-dd"))
      .withColumn("hour", date_format(col("time"), "HH"))

  /** The CRI chain every ingest path runs, batch ([[readCri]]) and stream
    * ([[LogStreamIngest]]): over a text frame `raw` (batch or streaming),
    * drop lines of excluded paths and over-long lines, parse the CRI
    * grammar, and derive `namespace`/`pod`/`pod_id`/`container` from the
    * file path and `node` from the caller. `_metadata.file_path` is the
    * hidden file-source column (stable under task retries, unlike
    * `input_file_name` in some plans).
    */
  private[logs] def criFrame(raw: DataFrame, clusterName: String,
      nodeName: String, excludeRegex: String = defaultExcludeRegex,
      maxLineBytes: Int = defaultMaxLineBytes): DataFrame = {
    val lines = raw
      .withColumn("file_path", col("_metadata.file_path"))
      .filter(!col("file_path").rlike(excludeRegex))
      .filter(octet_length(col("value")) < maxLineBytes)
    CriFunctions.parsed(lines, clusterName)
      .withColumn("namespace", regexp_extract(col("file_path"), podPathRegex, 1))
      .withColumn("pod", regexp_extract(col("file_path"), podPathRegex, 2))
      // group 3 = the pod UID (Tag_Regex captures it, fluent-bit.conf:12-14):
      // distinguishes two incarnations of one StatefulSet pod name — the
      // rebirth case the close-write ledger handles — so it rides as a
      // data column (high-cardinality: never a partition dir)
      .withColumn("pod_id", regexp_extract(col("file_path"), podPathRegex, 3))
      .withColumn("container", regexp_extract(col("file_path"), podPathRegex, 4))
      .withColumn("node", lit(nodeName))
      .drop("file_path")
  }

  /** Primary (idiomatic hive-layout) writer: partition pruning and partition
    * columns come free from Spark's `PartitioningAwareFileIndex` (SURVEY §1.3).
    *
    * Rows are repartitioned on the partition key first so each output
    * directory is written by one task — without this, every writer task that
    * sees every partition emits its own file, multiplying file count by the
    * task count (the small-files storm the compaction job exists to undo).
    * Partition granularity is a knob: hour-level prunes best when each hour
    * holds file-sized data (the 100 TB case); batch fixtures coarsen to date.
    */
  def writeHive(df: DataFrame, root: String,
      maxRecordsPerFile: Long = 1000000L,
      partitionCols: Seq[String] = LogSchema.hivePartitionColumns): Unit = {
    // Every write lands in a store ([[GraftStore]] — version prefixes plus
    // a `_current` pointer, on every filesystem). A write to an existing
    // store commits atomically through [[AppendCommit]] (stage invisibly,
    // publish by manifest-add + pointer flip): readers polling mid-append
    // see none or all of the batch, a crashed writer leaves zero visible
    // rows, and the commit bumps the version (grace snapshot + time travel
    // apply). The FIRST write of a fresh store lands directly in v1: no
    // reader can hold a reference to a store that does not exist yet, so
    // there is no torn-read window to defend. A concurrent first writer
    // can lose the init race — benign, the store the winner created is
    // exactly the one the loser wanted. An existing directory that is not
    // a store is refused, never written into.
    val spark = df.sparkSession
    if (GraftStore.isPointerStore(spark, root)) {
      AppendCommit.commit(df, root, partitionCols, maxRecordsPerFile)
      return
    }
    ensureStore(spark, root)
    val dataDir = GraftStore.resolve(spark, root)
    df.repartition(partitionCols.map(col): _*)
      .write
      .partitionBy(partitionCols: _*)
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .options(LogSchema.parquetBloomOptions)
      .mode("append")
      .parquet(dataDir)
    // stamp the pruning sidecar ([[FileStats]]): lines a racing first
    // writer already stamped are reused by (key, len)
    FileStats.refreshDir(spark, dataDir, FileStats.read(spark, dataDir))
  }

  /** Create the versioned store for `root` ([[GraftStore.init]]) if nothing
    * exists there yet, or `root` is an empty directory. Idempotent; losing
    * a concurrent-creation race is benign. A non-empty directory without
    * `_current` is left untouched; the store jobs that then find no store
    * there refuse it ([[GraftStore.requireStore]]).
    * A fresh store is EMPTY (v1 holds no data): the streaming sink relies
    * on this so its first micro-batch goes through the same atomic
    * [[AppendCommit]] as every later one — replayable by commit id.
    */
  def ensureStore(spark: SparkSession, root: String): Unit = {
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // stale-index cleanup runs ONLY when THIS process created the store:
    // losing the create race means a concurrent creator's stream may
    // already be bootstrapping its sibling index, and deleting it from the
    // loser would silently discard a freshly built index (self-healing via
    // the dataless guard, but at the cost of a full corpus rescan)
    if (!fs.exists(rootPath) || fs.listStatus(rootPath).isEmpty) {
      val created =
        try { GraftStore.init(spark, root); true }
        catch {
          case e: IllegalArgumentException if e.getMessage.contains("already") => false
        }
      if (created) dropStaleSiblingIndexes(spark, root)
    }
  }

  /** A FRESH store has no seen documents, so any surviving sibling dedup
    * index at the same path is a deleted store's ghost state — trusting it
    * would silently drop the new store's first documents as duplicates of
    * the dead corpus ([[graft.ext.StreamingDedup]] keeps a dataless-store
    * guard as defense in depth for stores created outside this path).
    */
  private def dropStaleSiblingIndexes(spark: SparkSession, root: String): Unit =
    Seq(GraftStore.DedupIndexSuffix, GraftStore.NearDupIndexSuffix).foreach { s =>
      val p = new Path(root.stripSuffix("/") + s)
      val pfs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (pfs.exists(p)) pfs.delete(p, true)
    }

  /** Reference-compatible positional-layout writer (SURVEY §1.3; layout
    * y-logcli:5). Spark can only emit `k=v` directories, so this writes
    * hive-style into a scratch dir and renames directories to the positional
    * form — a metadata-only operation on any filesystem (and a server-side
    * copy on S3). Intended for fixtures and compat export; the hive layout is
    * the at-scale primary.
    */
  def writePositional(df: DataFrame, root: String,
      uploadTime: java.time.Instant = java.time.Instant.now()): Unit = {
    val spark = df.sparkSession
    val scratch = root.stripSuffix("/") + "/.graft-staging"
    // Path time segments come from UPLOAD wall-clock, exactly like the
    // reference (s3_key_format strftime evaluates at flush time,
    // fluent-bit.conf:45,67) — queries filter on the time COLUMN, never the
    // path time (y-logcli:166). This also bounds directory fan-out: one
    // minute bucket per batch, so files-per-batch = label combinations.
    val t = uploadTime.atZone(java.time.ZoneOffset.UTC)
    def f2(i: Int) = f"$i%02d"
    val full = df
      // pod_id is engine-side metadata; reference positional files carry
      // exactly the reference schema (fluent-bit.conf:66 contract)
      .drop("date", "hour", "pod_id")
      .withColumn("year", lit(t.getYear.toString))
      .withColumn("month", lit(f2(t.getMonthValue)))
      .withColumn("day", lit(f2(t.getDayOfMonth)))
      .withColumn("hour", lit(f2(t.getHour)))
      .withColumn("minute", lit(f2(t.getMinute)))
    full.write
      .partitionBy("cluster", "namespace", "year", "month", "day", "node",
        "pod", "container", "hour", "minute")
      .mode("overwrite")
      .parquet(scratch)

    val fs = FileSystem.get(new java.net.URI(scratch), spark.sparkContext.hadoopConfiguration)
    val rootPath = new Path(root)
    val it = GraftStore.walkFiles(fs, new Path(scratch))
    while (it.hasNext) {
      val f = it.next()
      val p = f.getPath.toUri.getPath
      if (p.endsWith(".parquet")) {
        val rel = p.stripPrefix(new Path(scratch).toUri.getPath).stripPrefix("/")
        val segs = rel.split("/").toSeq
        val dirs = segs.init.map(_.split("=", 2)(1))
        val dest = new Path((rootPath.toUri.getPath +: dirs :+ segs.last).mkString("/"))
        fs.mkdirs(dest.getParent)
        fs.rename(f.getPath, dest)
      }
    }
    fs.delete(new Path(scratch), true)
  }
}
