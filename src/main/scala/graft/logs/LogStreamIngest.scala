package graft.logs

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming ingestion (SURVEY §2 rows S1, K1, K3-K6; §3.2): the Structured
  * Streaming analogue of the fluent-bit tail → S3 pipeline.
  *
  * Flush-semantics mapping (SURVEY §7.6):
  *  - `upload_timeout 60s` (fluent-bit.conf:43,60) → the processing-time
  *    trigger: every micro-batch commits files atomically, bounding
  *    visibility latency by the trigger interval.
  *  - `total_file_size 1M` (fluent-bit.conf:42,59) → `maxRecordsPerFile`.
  *  - tail checkpoint DB (fluent-bit.conf:8-9) → the streaming checkpoint.
  *  - SIGTERM flush (reference test.sh:427-541) → `StreamingQuery.stop()`
  *    after the in-flight batch commits; each micro-batch is one atomic
  *    store commit, so a stop or crash never leaves partial files visible —
  *    strictly stronger than the reference's behavior.
  *
  * Every sink here that writes the log store commits through
  * [[startStoreSink]]: the store is an ordinary versioned store from the
  * first batch, read with [[GraftStore.readStore]] or `format("graft")`.
  */
object LogStreamIngest {

  /** The stream-side read: a tail of `inputGlob` through the one CRI
    * chain the batch reader uses too ([[LogIngest.criFrame]]).
    */
  private def parsedStream(spark: SparkSession, inputGlob: String,
      clusterName: String, nodeName: String, maxFilesPerTrigger: Int) =
    LogIngest.criFrame(spark.readStream
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      // the kubelet DELETES logs under a live tail (pod reap, rotation GC);
      // a file listed for this batch but gone by read time must be skipped,
      // not crash the query — its close marker / idle timeout finalizes the
      // stream, exactly like the reference's tail surviving file removal
      .option("ignoreMissingFiles", "true")
      .text(inputGlob), clusterName, nodeName)

  /** The log-store stream sink: every micro-batch commits through the
    * store protocol ([[AppendCommit]] — stage invisibly, publish by
    * manifest-add + pointer flip). The store is an ordinary versioned
    * store from the first batch, so compaction / retention / vacuum / time
    * travel run against the LIVE ingest, matching the reference's lake,
    * which is queried while the DaemonSet keeps writing (test.sh:207-330).
    * Maintenance and the sink serialize on the store lease; the sink's
    * publish retries behind a running compaction.
    *
    * Exactly-once: the commit id is `s<sinkId>-b<batchId>`, with `sinkId`
    * derived from the CHECKPOINT path — stable across restarts, so a
    * micro-batch replayed after a crash short-circuits on the recorded id
    * instead of committing twice. Batches yielding zero rows publish
    * nothing.
    */
  def startStoreSink(spark: SparkSession, inputGlob: String, storeRoot: String,
      checkpoint: String, clusterName: String,
      nodeName: String = "local-node",
      triggerInterval: String = "60 seconds",
      maxFilesPerTrigger: Int = 1000,
      maxRecordsPerFile: Long = 1000000L,
      retainSnapshots: Int = 1,
      /** Partition granularity knob (same contract as [[LogIngest
        * .writeHive]]): hour-level dirs suit file-sized hours (the 100 TB
        * case); lower-volume stores coarsen to date so each micro-batch
        * commit stages file-sized partitions instead of a dir-per-hour
        * dust storm — `date`/`hour` stay as data COLUMNS either way.
        */
      partitionCols: Seq[String] = LogSchema.hivePartitionColumns,
      /** Materialized views ([[MatView]] dirs over THIS store) to refresh
        * after each micro-batch commit — the live-dashboard loop: stream →
        * store commit → O(batch + view) incremental aggregate refresh,
        * inside the same foreachBatch so a view is never more than one
        * trigger behind. A crashed refresh is caught up by the next batch
        * (or an out-of-band `AdminCli matview-refresh`): refresh diffs from
        * the view's own recorded base, not from the batch.
        */
      refreshViews: Seq[String] = Seq.empty): StreamingQuery = {
    val parsed = parsedStream(spark, inputGlob, clusterName, nodeName, maxFilesPerTrigger)
      .withColumn("date", date_format(col("time"), "yyyy-MM-dd"))
      .withColumn("hour", date_format(col("time"), "HH"))
    // content-independent and restart-stable: replay detection must key on
    // the same id before and after a crash, and two sinks with different
    // checkpoints must never collide
    val sinkId = GraftStore.sinkIdFor(checkpoint)
    LogIngest.ensureStore(spark, storeRoot)
    parsed.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        // bind the body to the stream-session clone with AQE pinned off —
        // trigger-bounded work gains nothing from per-stage re-planning
        // and pays its driver latency every batch (GraftSession
        // .microBatchSession; measured on the dedup sinks r16)
        val sess = graft.GraftSession.microBatchSession(batch)
        AppendCommit.commit(batch.toDF(), storeRoot,
          partitionCols = partitionCols,
          maxRecordsPerFile = maxRecordsPerFile,
          commitId = Some(s"s$sinkId-b$batchId"),
          retainSnapshots = retainSnapshots)
        refreshViews.foreach(MatView.refresh(sess, storeRoot, _))
        ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.ProcessingTime(triggerInterval))
      .start()
  }

  /** Streaming CDC-apply: every micro-batch UPSERTS into a versioned store
    * through [[DeleteVectors.mergeByKey]] — rows whose key already exists
    * are superseded (deletion vector, zero rewrite) and the batch appends,
    * all in ONE atomic commit per batch. This is the change-stream →
    * serving-table shape (Kafka CDC apply, document re-crawls superseding
    * stale copies) on the same exactly-once contract as [[startStoreSink]]:
    * the commit id `u<sinkId>-b<batchId>` makes a replayed micro-batch
    * commit once, and the sink id is derived from the checkpoint so two
    * sinks never collide. `updates` is any streaming DataFrame carrying
    * `keyCols` and `partitionCols`; within one batch, duplicate keys insert
    * duplicates (pre-aggregate upstream if last-write-wins per batch is
    * needed).
    */
  def startUpsertSink(updates: org.apache.spark.sql.DataFrame, storeRoot: String,
      checkpoint: String, keyCols: Seq[String], partitionCols: Seq[String],
      triggerInterval: String = "60 seconds",
      maxRecordsPerFile: Long = 1000000L,
      retainSnapshots: Int = 1): StreamingQuery = {
    val spark = updates.sparkSession
    val sinkId = GraftStore.sinkIdFor(checkpoint)
    LogIngest.ensureStore(spark, storeRoot)
    updates.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        // body on the stream-session clone, AQE pinned off (see
        // GraftSession.microBatchSession): merge work is batch-bounded
        DeleteVectors.mergeByKey(graft.GraftSession.microBatchSession(batch),
          storeRoot, batch.toDF(),
          keyCols = keyCols, partitionCols = partitionCols,
          commitId = Some(s"u$sinkId-b$batchId"),
          retainSnapshots = retainSnapshots,
          maxRecordsPerFile = maxRecordsPerFile)
        ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.ProcessingTime(triggerInterval))
      .start()
  }

  /** K5 wired live: the store sink ([[startStoreSink]] into `outputRoot`)
    * PLUS a close-write side channel — the engine analogue of the
    * reference's `_flb_close_write` sentinel + per-tag force flush
    * (close-write-flush.patch:20-156). A second streaming
    * query runs [[graft.streaming.CloseWriteDetector]] over the same tail
    * source and appends one `PodClosed` row per (pod, container) stream that
    * has been idle for `idleTimeout` — the signal a downstream
    * compaction/finalize job consumes instead of inotify. State is O(live
    * containers); with processing-time timeouts Spark keeps running (empty)
    * batches, so close events fire even when no new lines arrive.
    *
    * Returns (main sink query, close-events query); each owns a checkpoint
    * subdirectory under `checkpoint`.
    */
  def startWithCloseEvents(spark: SparkSession, inputGlob: String,
      outputRoot: String, closeEventsRoot: String, checkpoint: String,
      clusterName: String, nodeName: String = "local-node",
      triggerInterval: String = "60 seconds",
      idleTimeout: String = "60 seconds",
      maxFilesPerTrigger: Int = 1000,
      maxRecordsPerFile: Long = 1000000L): (StreamingQuery, StreamingQuery) = {
    import spark.implicits._
    val main = startStoreSink(spark, inputGlob, outputRoot, s"$checkpoint/main",
      clusterName, nodeName, triggerInterval, maxFilesPerTrigger, maxRecordsPerFile)
    val activity = parsedStream(spark, inputGlob, clusterName, nodeName, maxFilesPerTrigger)
      .select(col("cluster"), col("namespace"), col("pod"), col("container"),
        col("time_ns"), lit(false).as("closed"))
      .as[graft.streaming.CloseWriteDetector.PodActivity]
    val closeQ = graft.streaming.CloseWriteDetector.closedStreams(activity, idleTimeout)
      .toDF()
      .writeStream
      .format("parquet")
      .option("path", closeEventsRoot)
      .option("checkpointLocation", s"$checkpoint/close")
      .outputMode("append")
      .trigger(Trigger.ProcessingTime(triggerInterval))
      .start()
    (main, closeQ)
  }

  /** [[startWithCloseEvents]] plus the EVENT-DRIVEN leg: a
    * [[graft.streaming.FileCloseWatcher]] on the node's pods tree turns
    * log-file deletes / pod-dir reaps / (optionally) write quiescence into
    * explicit close MARKERS, spooled as tiny JSON files and unioned into the
    * detector's activity stream — so a closed stream finalizes in the NEXT
    * trigger instead of waiting out `idleTimeout`. This is the full analogue
    * of the reference's inotify IN_CLOSE_WRITE chain
    * (close-write-flush.patch:20-156): watcher ≙ inotify, marker row ≙
    * `_flb_close_write` sentinel, same-trigger emit ≙ force flush.
    *
    * `quiesceMs` (default the reference's 30 s bound, test.sh:592-598)
    * additionally closes streams whose file went silent but was RETAINED
    * (container exit 0 without deletion — invisible to delete events).
    *
    * The spool is driver-local (markers are O(pod closes), bytes each);
    * each marker is written to a temp name and atomically renamed so the
    * file source never reads a partial file. Close the returned watcher
    * when stopping the queries.
    */
  def startWithFileWatcher(spark: SparkSession, inputGlob: String,
      podsRoot: String, outputRoot: String, closeEventsRoot: String,
      checkpoint: String, clusterName: String,
      nodeName: String = "local-node",
      triggerInterval: String = "60 seconds",
      idleTimeout: String = "30 seconds",
      debounceMs: Long = 2000L,
      quiesceMs: Long = 30000L,
      maxFilesPerTrigger: Int = 1000,
      maxRecordsPerFile: Long = 1000000L)
      : (StreamingQuery, StreamingQuery, AutoCloseable) = {
    import spark.implicits._
    import graft.streaming.CloseWriteDetector.PodActivity
    val spool = java.nio.file.Paths.get(checkpoint, "markers")
    java.nio.file.Files.createDirectories(spool)
    import graft.tools.Jsons.quote
    val watcher = new graft.streaming.FileCloseWatcher(podsRoot, marker => {
      val json = s"""{"cluster":${quote(marker.cluster)},"namespace":${quote(marker.namespace)},""" +
        s""""pod":${quote(marker.pod)},"container":${quote(marker.container)},""" +
        s""""time_ns":${marker.time_ns},"closed":true}"""
      val id = java.util.UUID.randomUUID().toString
      val tmp = spool.resolve(s".tmp-$id")
      java.nio.file.Files.writeString(tmp, json + "\n")
      java.nio.file.Files.move(tmp, spool.resolve(s"marker-$id.json"),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }, clusterName, debounceMs = debounceMs, quiesceMs = quiesceMs)

    // any setup failure below must not leak the watcher's thread +
    // WatchService + scheduler — there would be no handle left to close
    try {
      val main = startStoreSink(spark, inputGlob, outputRoot, s"$checkpoint/main",
        clusterName, nodeName, triggerInterval, maxFilesPerTrigger, maxRecordsPerFile)
      val closeQ =
        try {
          val lines = parsedStream(spark, inputGlob, clusterName, nodeName, maxFilesPerTrigger)
            .select(col("cluster"), col("namespace"), col("pod"), col("container"),
              col("time_ns"), lit(false).as("closed"))
          val markers = spark.readStream
            .schema("cluster STRING, namespace STRING, pod STRING, container STRING, time_ns LONG, closed BOOLEAN")
            // markers are consume-once signals: delete after processing so a
            // long-lived ingest's spool (and the source's seen-files log)
            // stays O(in-flight), not O(every close ever)
            .option("cleanSource", "delete")
            .json(spool.toString)
          val activity = lines.unionByName(markers).as[PodActivity]
          graft.streaming.CloseWriteDetector.closedStreams(activity, idleTimeout)
            .toDF()
            .writeStream
            .format("parquet")
            .option("path", closeEventsRoot)
            .option("checkpointLocation", s"$checkpoint/close")
            .outputMode("append")
            .trigger(Trigger.ProcessingTime(triggerInterval))
            .start()
        } catch { case e: Throwable => main.stop(); throw e }
      (main, closeQ, watcher)
    } catch { case e: Throwable => watcher.close(); throw e }
  }

  /** The K5 consumer as a live loop: watches the close-events store that
    * [[startWithCloseEvents]] appends to and compacts each newly closed
    * stream's small files (the reference's close-write flush → compact chain,
    * close-write-flush.patch:106-156 + compact stage, run continuously).
    *
    * The batch rows themselves are ignored — a new close-event file is only
    * the wake-up signal; [[StreamFinalize.finalizeClosed]]'s ledger anti-join
    * decides what is actually pending. That keeps the loop idempotent and
    * decoupled from the streaming checkpoint: replaying a batch after a crash
    * re-runs a no-op, and events that arrived while the loop was down are
    * still found because the ledger — not the checkpoint — is the source of
    * truth.
    */
  def startAutoFinalize(spark: SparkSession, closeEventsRoot: String,
      storeRoot: String, checkpoint: String,
      triggerInterval: String = "60 seconds",
      maxRecordsPerFile: Long = 4000000L): StreamingQuery = {
    // the detector sink creates this dir on its first commit; create it up
    // front so the finalize loop can start before any stream has closed
    val root = new org.apache.hadoop.fs.Path(closeEventsRoot)
    root.getFileSystem(spark.sparkContext.hadoopConfiguration).mkdirs(root)
    spark.readStream
      .schema(StreamFinalize.closeEventSchema)
      .parquet(closeEventsRoot)
      .writeStream
      .foreachBatch { (_: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        StreamFinalize.finalizeClosed(spark, closeEventsRoot, storeRoot,
          maxRecordsPerFile)
        ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.ProcessingTime(triggerInterval))
      .start()
  }

  /** Dual-format streaming sink — the reference writes every stream TWICE
    * (two S3 outputs, parquet + arrow, fluent-bit.conf:32-67). foreachBatch
    * commits each micro-batch to the positional store in both formats; the
    * batch id in the checkpoint gives at-least-once per format (the
    * reference's own S3 PutObject is no stronger).
    */
  def startDualFormat(spark: SparkSession, inputGlob: String, outputRoot: String,
      checkpoint: String, clusterName: String,
      nodeName: String = "local-node",
      triggerInterval: String = "60 seconds",
      maxFilesPerTrigger: Int = 1000): StreamingQuery = {
    val parsed = parsedStream(spark, inputGlob, clusterName, nodeName, maxFilesPerTrigger)
    parsed.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        // persist: both format sinks consume the batch — without it the
        // source files would be re-read and re-parsed once per format
        val df = batch.toDF().persist()
        try {
          val now = java.time.Instant.now()
          LogIngest.writePositional(df, outputRoot, uploadTime = now)
          graft.sources.ArrowLogWriter.writePositional(df, outputRoot, uploadTime = now)
        } finally batch.unpersist()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.ProcessingTime(triggerInterval))
      .start()
  }
}
