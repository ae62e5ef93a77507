package graftbench

import java.nio.file.{Files, Path}

import graft.logs._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

/** The live write path: `LogStreamIngest.startStoreSink` watching a CRI
  * tree under `dir`, fed one batch at a time.
  *
  * A batch is staged, published by atomic rename (the stream never sees a
  * half-written file) and each container is rotated to its newest
  * [[LiveIngest.KeepFiles]] files. The stream's next micro-batch commits
  * it. The first batch is published before the stream starts, so the
  * stream's first trigger commits it. After the stream stops, a selector
  * count per namespace must see exactly the lines written.
  *
  * A batch's commit latency runs from the publish (or the stream's start),
  * or from the start of the trigger that picks the batch up if that is
  * later, to the micro-batch's commit. The wait for the trigger clock is
  * idle time, not graft's work: it is kept apart in [[idleNs]].
  */
final class LiveIngest(spark: SparkSession, gen: CriGen, dir: Path, skew: Long) {
  import LiveIngest._
  val store: String = dir.resolve("store").toString
  private val tree = dir.resolve("tree")
  private var query: StreamingQuery = _
  /** Batches published so far. */
  private var batches = 0
  var inputBytes = 0L
  /** Idle time so far: publish to the start of the trigger that took it. */
  var idleNs = 0L
  /** Id of the last micro-batch that committed data. */
  private var lastBatchId = -1L

  /** Publish one batch of `lines` lines with event times in `[t0, t1)`
    * and wait until micro-batches have committed all of its lines. Returns
    * the commit latency in ns, None if they are not committed in time.
    */
  def batch(tr: Trace, lines: Int, t0: Long, t1: Long): Option[Long] = {
    val sc = spark.sparkContext
    val op = tr.newOp()
    val b = batches
    val staged = dir.resolve(s"staging/$b")
    inputBytes += gen.writeTree(staged, lines, t0, t1, b)
    tr.span(sc, "publish", op) {
      CriGen.publish(staged, tree)
      CriGen.rotate(tree, KeepFiles)
    }
    batches = b + 1
    // started outside any span: the stream's thread inherits the caller's
    // job tags, and its jobs must stay untagged to count as commit jobs
    if (query == null) query = LogStreamIngest.startStoreSink(spark,
      tree.toString + "/pods/*/*/*.log", store, dir.resolve("checkpoint").toString,
      "dev", "node-a", triggerInterval = Trigger)
    val readyNs = System.nanoTime()
    val readyMs = System.currentTimeMillis()
    val readyAt = tr.now()
    // A listing that raced the renames can split the batch over two
    // micro-batches: wait until the committed rows cover it.
    var rows = 0L
    var firstStartMs = -1L
    var visibleNs = 0L
    var next = awaitCommit(FirstCommitTimeoutMs)
    while (next.isDefined) {
      if (firstStartMs < 0) firstStartMs = java.time.Instant.parse(next.get.timestamp).toEpochMilli
      rows += next.get.numInputRows
      visibleNs = System.nanoTime()
      next = if (rows >= lines) None else awaitCommit(SplitTimeoutMs)
    }
    Files2.deleteTree(staged)
    if (rows < lines) {
      System.err.println(s"[perfbench] batch ${b + 1}: $rows of $lines lines committed")
      return None
    }
    val idle = math.max(0L, firstStartMs - readyMs) * 1000000L
    idleNs += idle
    tr.record("visible", readyAt + idle, readyAt + (visibleNs - readyNs), op)
    Some(visibleNs - readyNs - idle)
  }

  /** Stop the stream, then count every namespace: (checks, failed). */
  def stopAndCheck(tr: Trace): (Long, Long) = {
    stop()
    val counts = tr.span(spark.sparkContext, "count", tr.newOp()) {
      LogQuery(LogSelector.empty, layout = LogLayout.Hive).dataFrame(spark, store)
        .groupBy("namespace").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    val failed = gen.namespaces.indices.count { ns =>
      val n = counts.getOrElse(gen.namespaces(ns), 0L)
      val want = gen.expected(Some(ns), None, None) + skew
      if (n != want) System.err.println(s"[perfbench] ingest ns $ns: $n rows, expected $want")
      n != want
    }
    (gen.namespaces.length.toLong, failed.toLong)
  }

  /** The next micro-batch that committed data, or None after `timeoutMs`. */
  private def awaitCommit(timeoutMs: Long): Option[StreamingQueryProgress] = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    while (System.nanoTime() < deadline) {
      query.exception.foreach(e => throw e)
      val p = query.recentProgress.find(p => p.batchId > lastBatchId && p.numInputRows > 0)
      if (p.isDefined) { lastBatchId = p.get.batchId; return p }
      Thread.sleep(2)
    }
    None
  }

  def stop(): Unit = if (query != null) {
    query.stop()
    query = null
  }
}

object LiveIngest {
  /** Files kept per container by rotation: each publish rotates the
    * previous batch's files away.
    */
  val KeepFiles = 1
  /** The stream's trigger interval. */
  val Trigger = "1 second"
  val FirstCommitTimeoutMs = 60000L
  /** How long a short count waits for a second micro-batch. */
  val SplitTimeoutMs = 5000L
}
