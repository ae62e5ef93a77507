package graft.logs

import graft.GraftSession

/** Streaming-ingestion front end — the live analogue of [[IngestCli]],
  * wiring [[LogStreamIngest.startWithFileWatcher]] end to end: tail the CRI
  * tree, commit micro-batches to the store, and emit close events from the
  * inotify-style watcher + idle detector (the reference's
  * close-write-flush chain as one command).
  *
  * {{{
  * runMain graft.logs.StreamIngestCli --glob='/var/log/pods/STAR/STAR/STAR.log' \
  *   --pods-root=/var/log/pods --root=/data/lake \
  *   --close-events=/data/close --checkpoint=/data/ckpt --cluster=dev \
  *   --run-seconds=0   # 0 = run until SIGTERM (the deployment shape)
  * }}}
  *
  * `--run-seconds=N` bounds the run for drives/fixtures; on exit (either
  * path) the queries stop through Spark's graceful stop — committed
  * batches stay committed, the K6 contract.
  *
  * `--root` is a versioned store (read it with `GraftStore.readStore`).
  * Its small files are compacted with `AdminCli compact` or `maintain`;
  * `AdminCli finalize`/`watch` rewrite positional lakes only and refuse
  * this root.
  */
object StreamIngestCli {
  def main(args: Array[String]): Unit = {
    var glob: Option[String] = None
    var podsRoot: Option[String] = None
    var root: Option[String] = None
    var closeEvents: Option[String] = None
    var checkpoint: Option[String] = None
    var cluster = "default"
    var node = "local-node"
    var trigger = "2 seconds"
    var idleTimeout = "10 seconds"
    var debounceMs = 1000L
    var quiesceMs = 5000L
    var runSeconds = 0L
    args.foreach {
      case s if s.startsWith("--glob=") => glob = Some(s.drop(7))
      case s if s.startsWith("--pods-root=") => podsRoot = Some(s.drop(12))
      case s if s.startsWith("--root=") => root = Some(s.drop(7))
      case s if s.startsWith("--close-events=") => closeEvents = Some(s.drop(15))
      case s if s.startsWith("--checkpoint=") => checkpoint = Some(s.drop(13))
      case s if s.startsWith("--cluster=") => cluster = s.drop(10)
      case s if s.startsWith("--node=") => node = s.drop(7)
      case s if s.startsWith("--trigger=") => trigger = s.drop(10)
      case s if s.startsWith("--idle-timeout=") => idleTimeout = s.drop(15)
      case s if s.startsWith("--debounce-ms=") => debounceMs = s.drop(14).toLong
      case s if s.startsWith("--quiesce-ms=") => quiesceMs = s.drop(13).toLong
      case s if s.startsWith("--run-seconds=") => runSeconds = s.drop(14).toLong
      case other => throw new IllegalArgumentException(s"unknown arg '$other'")
    }
    require(glob.nonEmpty && podsRoot.nonEmpty && root.nonEmpty &&
      closeEvents.nonEmpty && checkpoint.nonEmpty,
      "usage: --glob=GLOB --pods-root=DIR --root=DIR --close-events=DIR " +
        "--checkpoint=DIR [--cluster=] [--node=] [--trigger=] " +
        "[--idle-timeout=] [--debounce-ms=] [--quiesce-ms=] [--run-seconds=]")
    val spark = GraftSession.local("graft-stream-ingest")
    val (main, closeQ, watcher) = LogStreamIngest.startWithFileWatcher(
      spark, glob.get, podsRoot.get, root.get, closeEvents.get,
      checkpoint.get, cluster, node,
      triggerInterval = trigger, idleTimeout = idleTimeout,
      debounceMs = debounceMs, quiesceMs = quiesceMs)
    println(s"[stream-ingest] tailing ${glob.get} -> ${root.get} " +
      s"(close events -> ${closeEvents.get}); " +
      (if (runSeconds > 0) s"running ${runSeconds}s" else "until SIGTERM"))
    val stop = new Thread(() => {
      // SIGTERM flush (K6): stop() finishes the in-flight trigger and
      // commits it before returning — nothing buffered is lost
      try { main.stop(); closeQ.stop(); watcher.close() }
      catch { case _: Exception => () }
    })
    Runtime.getRuntime.addShutdownHook(stop)
    if (runSeconds > 0) {
      Thread.sleep(runSeconds * 1000)
      Runtime.getRuntime.removeShutdownHook(stop)
      main.stop(); closeQ.stop(); watcher.close()
      // drive summary: rows ingested + close events emitted
      val rows = GraftStore.readStore(spark, root.get).count()
      val closes =
        try spark.read.parquet(closeEvents.get)
          .select("namespace", "pod", "container").collect()
          .map(_.mkString("/")).sorted.toSeq
        catch { case _: Exception => Seq.empty }
      println(s"[stream-ingest] done: $rows rows, ${closes.size} close " +
        s"event(s)${if (closes.nonEmpty) closes.mkString(": ", ", ", "") else ""}")
      spark.stop()
    } else {
      main.awaitTermination()
    }
  }
}
