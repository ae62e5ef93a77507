package graft.logs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.hadoop.fs.{FileSystem, Path}

/** Consumer for the close-write events produced by
  * [[graft.streaming.CloseWriteDetector]] (K5): in the reference, the
  * `_flb_close_write` sentinel triggers a per-tag force flush
  * (close-write-flush.patch:106-156) and the compact stage later merges the
  * stream's ~1 MB objects. Here the close event triggers the merge directly:
  * a closed (cluster, namespace, pod, container) stream has no writer
  * anymore, so its positional subtree can be rewritten into scan-sized files
  * with no coordination.
  *
  * Scale design: each closed stream is bounded by one container lifetime of
  * logs, so per-stream compaction is a small independent job; open streams
  * are never touched (their directories are not globbed). A processed-event
  * ledger under `<closeEventsRoot>/_finalized` makes the job idempotent.
  *
  * Crash safety: the swap follows a plan-file protocol. The compacted files
  * are verified complete, then a `_PLAN` (dest dir + original paths) is
  * persisted BEFORE any rename or delete; recovery finishes an interrupted
  * plan (rename remaining compacted files in, delete the listed originals)
  * instead of rebuilding from a possibly half-deleted original set — the
  * rebuild path would bake duplicate or missing rows into the store.
  * Readers can transiently see compacted files alongside not-yet-deleted
  * originals mid-swap (at-least-once visibility, like the reference's
  * compact stage); they never see an empty stream.
  */
object StreamFinalize {

  private val streamKey = Seq("cluster", "namespace", "pod", "container")
  // The ledger key includes the close event's last_ns as a generation marker:
  // pod names are routinely reused after restart (StatefulSets), and a ledger
  // keyed by name alone would anti-join the reborn stream's close event
  // against the dead generation's row and never finalize it. Upgrade note:
  // ledger rows written before this key existed read with a NULL last_ns and
  // never match the anti-join, so previously finalized streams re-finalize
  // once — safe (compaction of an already-compacted stream is a no-op: ≤1
  // non-compact file) and bounded per run by maxStreams.
  private val ledgerKey = streamKey :+ "last_ns"

  /** Schema of the close-events store ([[graft.streaming.CloseWriteDetector.PodClosed]]
    * rows) — public so the auto-finalize stream can watch the store with an
    * explicit schema (streaming file sources cannot infer).
    */
  val closeEventSchema = StructType(Seq(
    StructField("cluster", StringType), StructField("namespace", StringType),
    StructField("pod", StringType), StructField("container", StringType),
    StructField("lines", LongType), StructField("first_ns", LongType),
    StructField("last_ns", LongType)))

  private val ledgerSchema = StructType(
    closeEventSchema.filter(f => ledgerKey.contains(f.name)))

  /** Refuses, with an `IllegalArgumentException` naming `root`, a
    * versioned store: close-event finalize rewrites a positional lake's
    * stream subtrees in place, and would find none under a store's version
    * dirs — yet record every event as finalized. Stores are compacted by
    * [[Compaction.compactHive]] (`AdminCli compact`/`maintain`).
    */
  private[logs] def requirePositional(spark: SparkSession, root: String): Unit =
    require(!GraftStore.isPointerStore(spark, root),
      s"$root is a versioned store: close-event finalize rewrites positional " +
        "lakes only — compact a store with AdminCli compact or maintain")

  /** Compact every closed stream recorded under `closeEventsRoot` that the
    * ledger has not seen yet. Returns the finalized stream keys. The store
    * must be a positional lake ([[requirePositional]]).
    *
    * `maxStreams` bounds one run's driver-side working set (the pending key
    * list is collected): a long-lived deployment accumulates closed streams
    * without bound, so a scheduled run processes a batch and the next run
    * continues where it left off. Pair with retention on the close-events
    * store itself (it is date-partitionable like any event stream) so the
    * anti-join against the ledger stays proportional to recent churn, not
    * to all history.
    */
  def finalizeClosed(spark: SparkSession, closeEventsRoot: String,
      storeRoot: String, maxRecordsPerFile: Long = 4000000L,
      maxStreams: Int = 10000): Seq[(String, String, String, String)] = {
    requirePositional(spark, storeRoot)
    val fs = new Path(closeEventsRoot).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val ledgerPath = s"${closeEventsRoot.stripSuffix("/")}/_finalized"
    if (!fs.exists(new Path(closeEventsRoot))) return Seq.empty
    // explicit schema: an empty or freshly-created store reads as an empty
    // frame instead of failing inference, and a date-partitioned store
    // (hive-style subdirs — the recommended retention layout) is discovered
    // by the normal reader instead of a flat top-level glob that would see
    // nothing and silently disable finalize
    // a NULL key component is a malformed event: under SQL equality it can
    // never match the ledger (NULL = NULL is not true), so it would
    // re-compact and re-append forever — drop it instead
    val closedDf = spark.read.schema(closeEventSchema).parquet(closeEventsRoot)
      .select(ledgerKey.map(col): _*).na.drop(ledgerKey).distinct()
    // anti-join against the ledger IN SPARK — only the bounded pending batch
    // ever reaches the driver
    val pendingDf =
      if (fs.exists(new Path(ledgerPath)))
        closedDf.join(
          spark.read.schema(ledgerSchema).parquet(ledgerPath)
            .select(ledgerKey.map(col): _*).distinct(),
          ledgerKey, "left_anti")
      else closedDf
    // maxStreams bounds STREAMS, not generation rows: limit the distinct
    // stream keys first, then pull every pending generation of the chosen
    // streams — a churny pod with thousands of close events can neither
    // starve other streams of the whole budget nor straddle the cut (which
    // would re-compact it once per run until its generations drained)
    val chosen = pendingDf.select(streamKey.map(col): _*).distinct()
      .orderBy(streamKey.map(col): _*).limit(maxStreams)
    val pending = pendingDf.join(chosen, streamKey, "left_semi")
      .orderBy(ledgerKey.map(col): _*)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
    // several generations of one stream can be pending at once (close →
    // reuse → close): compact the stream once, record every generation
    val byStream = pending.groupBy { case (c, n, p, ct, _) => (c, n, p, ct) }
    byStream.toSeq.sortBy(_._1).foreach { case ((cluster, ns, pod, container), gens) =>
      compactPositionalStream(spark, storeRoot, cluster, ns, pod, container, maxRecordsPerFile)
      // dual-format stores carry an arrow leg beside the parquet one; a
      // parquet-only store globs nothing here and the call is a no-op
      compactArrowStream(spark, storeRoot, cluster, ns, pod, container,
        maxRecordsPerFile)
      // ledger append AFTER the stream is compacted: a crash in between just
      // re-compacts (idempotent via the plan protocol), never skips
      import spark.implicits._
      gens.toSeq.toDF(ledgerKey: _*)
        .coalesce(1).write.mode("append").parquet(ledgerPath)
    }
    byStream.keys.toSeq.sorted
  }

  /** Rewrite one closed stream's positional parquet files (under
    * `<root>/<cluster>/<ns>/Y/M/D/<node>/<pod>/<container>/H/M/`)
    * into files capped at `maxRecordsPerFile`, placed in the stream's latest
    * minute directory (the path time is upload time, never queried —
    * y-logcli:166 filters on the time column). Returns the number of small
    * files replaced; 0 or 1 remaining originals are left as-is. Output files
    * are named `compact-*` and excluded from later recompaction input.
    */
  def compactPositionalStream(spark: SparkSession, root: String, cluster: String,
      ns: String, pod: String, container: String,
      maxRecordsPerFile: Long = 4000000L): Int =
    compactStream(spark, root, cluster, ns, pod, container,
      format = "parquet", suffix = ".parquet",
      read = paths => spark.read.parquet(paths: _*),
      writeScratch = (df, scratchStr) =>
        // one writer task: the stream is one container's bounded lifetime;
        // maxRecordsPerFile still splits a genuinely large stream into
        // several scan-sized files
        df.coalesce(1)
          .sortWithinPartitions(col("time_ns"))
          .write.option("maxRecordsPerFile", maxRecordsPerFile)
          .mode("overwrite").parquet(scratchStr))

  /** Merge one closed stream's small `.arrow` files (the dual-format store's
    * second leg — ArrowLogWriter writes one per flush batch) into
    * dict<int8>+ZSTD files capped at `maxRecordsPerFile` rows: the engine's
    * analogue of the reference's compact stage (compact_columns.c), which
    * exists precisely to turn ~1 MB objects into scan-sized columnar files.
    * Same plan-file crash protocol as the parquet side, under a
    * format-distinct scratch dir so the two swaps cannot complete each
    * other's plans.
    */
  def compactArrowStream(spark: SparkSession, root: String, cluster: String,
      ns: String, pod: String, container: String,
      maxRecordsPerFile: Long = 4000000L): Int = {
    val sconf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    compactStream(spark, root, cluster, ns, pod, container,
      format = "arrow", suffix = ".arrow",
      read = paths => spark.read.format("graft.sources.ArrowIpcSource")
        .option("paths", paths.mkString(",")).load(),
      writeScratch = (df, scratchStr) => {
        // one writer task (a stream is one container's bounded lifetime);
        // ArrowLogWriter.writeFile reads the keyed-row layout's positions
        // 5..9, so prepend placeholder key columns (unused by the writer)
        val keyed = df.select(lit(cluster), lit(ns), lit(""), lit(pod), lit(container),
            col("time"), col("time_ns"), col("stream"), col("logtag"), col("message"))
          .coalesce(1).sortWithinPartitions(col("time_ns"))
        keyed.foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
          val sfs = new Path(scratchStr).getFileSystem(sconf.value)
          // chunked batches: never materialize more than maxRecordsPerFile
          // rows in the writer's heap, and name every file uniquely — a
          // fixed name would collide with a prior compaction's output in the
          // same destination dir and finishPlan's exists-check would drop
          // the new rows as a presumed duplicate
          val buf = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
          def flush(): Unit = if (buf.nonEmpty) {
            sfs.mkdirs(new Path(scratchStr))
            val name = s"part-${java.util.UUID.randomUUID()}.arrow"
            val out = sfs.create(new Path(scratchStr, name), true)
            try graft.sources.ArrowLogWriter.writeFile(buf.toSeq,
              java.nio.channels.Channels.newChannel(out))
            finally out.close()
            buf.clear()
          }
          rows.foreach { r =>
            buf += r
            if (buf.size >= maxRecordsPerFile) flush()
          }
          flush()
        }
      })
  }

  /** The shared swap skeleton both format legs run: plan recovery, scratch
    * rebuild, glob + `compact-` exclusion, count-verified scratch write,
    * plan persistence, swap. Exactly one copy of the crash-safety protocol —
    * a fix here fixes both legs.
    */
  private def compactStream(spark: SparkSession, root: String, cluster: String,
      ns: String, pod: String, container: String, format: String,
      suffix: String, read: Seq[String] => DataFrame,
      writeScratch: (DataFrame, String) => Unit): Int = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(root).getFileSystem(conf)
    val scratch = scratchPath(root, cluster, ns, pod, container, format)
    // finish an interrupted previous attempt BEFORE looking at the files:
    // its plan is the only authority on which originals its compacted output
    // already covers. Probe every scratch-dir naming any prior build used —
    // a plan left by an old binary under a hash this build no longer
    // computes would otherwise be orphaned, and re-compacting its surviving
    // originals bakes the already-moved rows in twice.
    (scratch +: legacyScratchPaths(root, cluster, ns, pod, container, format))
      .foreach { s =>
        val pf = new Path(s, "_PLAN")
        if (fs.exists(pf)) { finishPlan(fs, s, pf); return 0 }
      }
    val planFile = new Path(scratch, "_PLAN")
    if (fs.exists(scratch)) fs.delete(scratch, true) // died before plan: rebuild is safe
    val glob = new Path(s"${root.stripSuffix("/")}/$cluster/$ns/*/*/*/*/$pod/$container/*/*/*$suffix")
    val files = Option(fs.globStatus(glob)).map(_.toSeq).getOrElse(Seq.empty).map(_.getPath)
      .filterNot(_.getName.startsWith("compact-"))
    if (files.size <= 1) return 0
    val df = read(files.map(_.toString))
    val expected = df.count()
    writeScratch(df, scratch.toString)
    val written = read(Seq(s"${scratch.toString}/*$suffix")).count()
    require(written == expected,
      s"$format stream compaction wrote $written rows, expected $expected; originals untouched")
    val destDir = files.map(_.getParent.toString).max
    // the plan persists dest + originals BEFORE any mutation of the store;
    // from here on, crash recovery replays this plan to completion
    writePlan(fs, planFile, destDir, files)
    finishPlan(fs, scratch, planFile)
    files.size
  }

  /** Scratch dir for one stream's swap — named by a hash of the NUL-joined
    * key: hyphen-joining would collide streams whose components themselves
    * contain hyphens (routine in k8s names), and a collision would let one
    * stream finish another's crash-recovery plan. `format` separates the
    * parquet and arrow swaps of the same stream so neither can complete the
    * other's plan.
    */
  private[graft] def scratchPath(root: String, cluster: String, ns: String,
      pod: String, container: String, format: String = "parquet"): Path = {
    // the parquet leg keeps the original 4-component hash: changing it would
    // orphan any in-flight _PLAN a pre-upgrade binary left behind, silently
    // dropping crash recovery across the upgrade (recovery would re-compact
    // surviving originals and bake duplicates in). Only non-parquet formats
    // append the discriminator.
    val keyParts = Seq(cluster, ns, pod, container) ++
      (if (format == "parquet") Nil else Seq(format))
    hashedScratch(root, keyParts)
  }

  /** Scratch-dir names earlier builds computed for the same stream+format —
    * probed (never written) during plan recovery. One interim build hashed
    * the parquet scratch with an explicit 5th "parquet" component.
    */
  private def legacyScratchPaths(root: String, cluster: String, ns: String,
      pod: String, container: String, format: String): Seq[Path] =
    if (format == "parquet")
      Seq(hashedScratch(root, Seq(cluster, ns, pod, container, "parquet")))
    else Seq.empty

  private def hashedScratch(root: String, keyParts: Seq[String]): Path = {
    val keyHash = java.security.MessageDigest.getInstance("MD5")
      .digest(keyParts.mkString("\u0000").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(16)
    new Path(s"${root.stripSuffix("/")}/.finalize-$keyHash")
  }

  /** Complete a persisted plan: move remaining compacted files from scratch
    * into the destination, delete the originals the plan lists, drop the
    * scratch dir. Every step is idempotent, so recovery can re-run it.
    */
  private def finishPlan(fs: FileSystem, scratch: Path, planFile: Path): Unit = {
    val (destDir, originals) = readPlan(fs, planFile)
    fs.mkdirs(new Path(destDir))
    fs.listStatus(scratch)
      .filter(st => st.getPath.getName.endsWith(".parquet") ||
        st.getPath.getName.endsWith(".arrow"))
      .foreach { st =>
        // deterministic target name: on stores where rename is copy+delete
        // (S3A) a crash can leave the file at BOTH ends — drop the scratch
        // copy instead of failing on the existing destination
        val dest = new Path(destDir, s"compact-${st.getPath.getName.stripPrefix("part-")}")
        if (fs.exists(dest)) fs.delete(st.getPath, false)
        else require(fs.rename(st.getPath, dest),
          s"rename of compacted file ${st.getPath} into $destDir failed")
      }
    originals.foreach(o => fs.delete(new Path(o), false))
    fs.delete(scratch, true)
  }

  /** Atomic plan persistence: write to a temp name, then rename. A crash
    * mid-write leaves only the temp file, which the died-before-plan path
    * cleans up with the scratch dir — a torn `_PLAN` must never exist,
    * because recovery replays it as authoritative.
    */
  private def writePlan(fs: FileSystem, planFile: Path, destDir: String,
      originals: Seq[Path]): Unit = {
    val tmp = new Path(planFile.getParent, "_PLAN.tmp")
    val out = fs.create(tmp, true)
    try out.write((destDir +: originals.map(_.toString)).mkString("\n").getBytes("UTF-8"))
    finally out.close()
    require(fs.rename(tmp, planFile), s"atomic rename $tmp -> $planFile failed")
  }

  private def readPlan(fs: FileSystem, planFile: Path): (String, Seq[String]) = {
    val in = fs.open(planFile)
    val lines =
      try new String(org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8").split("\n").toSeq
      finally in.close()
    (lines.head, lines.tail.filter(_.nonEmpty))
  }
}
