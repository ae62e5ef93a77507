package graftbench

import java.nio.file.Path
import java.util.SplittableRandom
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import graft.logs._
import org.apache.spark.sql.SparkSession

/** `logs`: the paper's system end to end -- live ingest builds a store,
  * then `y-logcli` reads it.
  *
  * Set-up builds the store through the live write path ([[LiveIngest]]):
  * [[LogWorkload.Batches]] batches of [[LogWorkload.BatchLines]] lines,
  * each 40 minutes of event time over every container, committed one after
  * another by the stream sink. The stream then stops, so no source listing
  * runs beside the queries, and a count per namespace must be exact.
  * Set-up time leaves out the idle waits for the trigger clock.
  *
  * One client then runs the query mix exactly as `LogCli query` does --
  * `LogQuery(...).dataFrame`, an optional `--limit`, `LogCli.render` into a
  * discarding stream -- and the lines printed must equal the oracle's
  * count. The store does not change during the window, so every window
  * queries the same data. A traced run ends with one
  * `Compaction.compactHive`, after which a count of the whole store must
  * still be exact.
  */
final class LogWorkload(spark: SparkSession, seed: Long, work: Path,
    batchLines: Int = LogWorkload.BatchLines,
    /** Added to every expected count; non-zero only to test the checker. */
    oracleSkew: Long = 0L) extends Workload {
  import LogWorkload._
  val clients = 1
  override val round = 20

  /** Labels only: namespaces and pods depend on the seed alone. */
  private val labels = new CriGen(seed)
  private var gen: CriGen = _
  private var ingest: LiveIngest = _
  private var idleDone = 0L
  override def idleNs: Long = idleDone + Option(ingest).fold(0L)(_.idleNs)
  private def store = ingest.store
  private var storeFiles = 0
  // checks made during set-ups: attempted, failed
  private var checks = 0L
  private var checksFailed = 0L
  // traced readings: the last set-up's write path, the window's rows
  private val commitNs = ArrayBuffer[Long]()
  private val filesAdded = ArrayBuffer[Double]()
  private val compactions = ArrayBuffer[(Double, Double)]()
  private val rows = new ConcurrentLinkedQueue[java.lang.Double]()

  def setup(rep: Int, tr: Trace): Unit = {
    if (ingest != null) {
      ingest.stop()
      idleDone += ingest.idleNs
      Files2.deleteTree(work.resolve(s"logs${rep - 1}"))
    }
    gen = new CriGen(seed)
    ingest = new LiveIngest(spark, gen, work.resolve(s"logs$rep"), oracleSkew)
    commitNs.clear()
    filesAdded.clear()
    var files = 0
    (0 until Batches).foreach { b =>
      val t0 = AsOfNs - (Batches - b) * BatchSpanNs
      val lat = ingest.batch(tr, batchLines, t0, t0 + BatchSpanNs)
      checks += 1
      lat.fold(checksFailed += 1)(commitNs += _)
      if (tr.enabled) {
        val now = tr.span(spark.sparkContext, "list", tr.newOp())(Files2.liveFiles(spark, store).size)
        filesAdded += (now - files).toDouble
        files = now
      }
    }
    val (c, f) = ingest.stopAndCheck(tr)
    checks += c
    checksFailed += f
    storeFiles = Files2.liveFiles(spark, store).size
  }

  /** The untimed warm pass: every shape with every output once, on four
    * threads, so the window does not pay first-run costs in a
    * seed-dependent order.
    */
  override def afterSetup(): Unit = {
    val qs = mix.take(round * 3).distinctBy(q => (q.pod.isDefined, q.since, q.limit, q.output))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try qs.map(q => pool.submit(() => run(q, new Trace(false)))).foreach(_.get())
    finally pool.shutdown()
  }

  /** Rounds of twenty queries in a seeded order, four of each shape -- a
    * namespace scan, a pod+container probe, `--since=5m`, `--since=1h` and
    * a selector-less `--limit=1000 -o raw`. The namespace shapes visit each
    * namespace once a round; probes pick seeded pods. The first four shapes
    * cycle through `-o raw|json|columns`, so every window sees the same
    * share of each shape, namespace and output, whatever the seed.
    */
  private val mix: IndexedSeq[Q] = {
    val r = new SplittableRandom(seed * 31 + 7)
    val outs = Array[LogOutput](LogOutput.Raw, LogOutput.Json, LogOutput.Columns)
    require(labels.namespaces.length == 4)
    IndexedSeq.tabulate(30) { k =>
      val shapes = (0 until 4).flatMap { h =>
        def out(j: Int) = outs((k + h + j) % outs.length)
        val ns = Some(h)
        Seq(Q(ns, None, None, None, None, out(0)),
          Q(None, Some(r.nextInt(labels.pods.length)), Some(r.nextInt(2)), None, None, out(1)),
          Q(ns, None, None, Some(300L), None, out(2)),
          Q(ns, None, None, Some(3600L), None, out(0)),
          Q(None, None, None, None, Some(1000), LogOutput.Raw))
      }
      new scala.util.Random(r.nextLong()).shuffle(shapes)
    }.flatten
  }

  private def selector(q: Q): LogSelector = LogSelector(
    q.ns.map(i => "namespace" -> gen.namespaces(i)).toMap ++
      q.pod.map(i => "pod" -> gen.pods(i).name) ++
      q.container.map(i => "container" -> gen.containers(i)))

  private def expected(q: Q): Long = {
    val n = gen.expected(q.ns, q.pod, q.container,
      q.since.map(s => AsOfNs - s * 1000000000L).getOrElse(Long.MinValue))
    q.limit.fold(n)(l => math.min(l.toLong, n)) + oracleSkew
  }

  def op(i: Long, tr: Trace): Option[Long] = run(mix((i % mix.size).toInt), tr)

  private def run(q: Q, tr: Trace): Option[Long] = {
    val sc = spark.sparkContext
    val op = tr.newOp()
    val out = new LineCounter
    val t0 = System.nanoTime()
    tr.span(sc, "query", op) {
      val df0 = tr.span(sc, "build", op) {
        LogQuery(selector(q), q.since, q.output, LogLayout.Hive, LogFormat.Parquet, Some(AsOfNs))
          .dataFrame(spark, store)
      }
      val df = q.limit.fold(df0)(df0.limit)
      if (tr.enabled) tr.span(sc, "plan", op)(df.queryExecution.executedPlan)
      tr.span(sc, "render", op) {
        val ps = new java.io.PrintStream(out, false)
        Console.withOut(ps)(LogCli.render(df, q.output))
        ps.flush()
      }
    }
    val t1 = System.nanoTime()
    val want = expected(q)
    if (tr.enabled) rows.add(out.lines.toDouble)
    val ok = out.lines == want
    if (!ok) System.err.println(s"[perfbench] $q: ${out.lines} rows, expected $want")
    if (ok) Some(t1 - t0) else None
  }

  /** Checks made during set-ups; a traced run adds one compaction, after
    * which a count of the whole store must still be exact.
    */
  override def verify(traced: Option[Trace]): (Long, Long) = {
    traced.foreach { tr =>
      val sc = spark.sparkContext
      val op = tr.newOp()
      val before = Files2.liveFiles(spark, store).toSet
      val t0 = tr.now()
      tr.span(sc, "compact", op)(Compaction.compactHive(spark, store))
      val t1 = tr.now()
      val rewritten = Files2.liveFiles(spark, store).filterNot(before.contains)
      compactions += (((t1 - t0) / 1e6, Files2.sizeOf(rewritten).toDouble))
      val n = tr.span(sc, "count", op) {
        LogQuery(LogSelector.empty, layout = LogLayout.Hive).dataFrame(spark, store).count()
      }
      val want = gen.expected(None, None, None) + oracleSkew
      checks += 1
      if (n != want) {
        System.err.println(s"[perfbench] after compaction: $n rows, expected $want")
        checksFailed += 1
      }
    }
    (checks, checksFailed)
  }

  def bytesPerInputByte(): Double =
    Files2.sizeOf(Files2.liveFiles(spark, store)).toDouble / ingest.inputBytes

  def layers(tr: Trace, w: Window): Map[String, Double] = {
    val common = Layers.perOp(tr, "render")
    val batches = tr.streamBatches.asScala.toSeq
    def dur(k: String) = Stats.median(batches.map(_.getOrElse(k, 0L).toDouble))
    // jobs with no op tag run on the stream's own thread: the sink's commits
    val streamJobs = tr.jobs.values.asScala.count(_.op < 0)
    common ++ Map(
      "query.rows" -> Stats.median(rows.asScala.map(_.doubleValue).toSeq),
      "scan.files_read_ratio" -> common("scan.files_read") / math.max(1, storeFiles),
      "stream.latest_offset_ms" -> dur("latestOffset"),
      "stream.add_batch_ms" -> dur("addBatch"),
      "stream.wal_commit_ms" -> dur("walCommit"),
      "stream.planning_ms" -> dur("queryPlanning"),
      "commit.jobs" -> streamJobs.toDouble / math.max(1, batches.size),
      "commit.files_added" -> Stats.median(filesAdded.toSeq),
      "store.files_live" -> storeFiles.toDouble,
      "visible.ms" -> Stats.median(commitNs.map(_ / 1e6).toSeq),
      "ingest.lines_per_s" -> commitNs.size * batchLines / math.max(1e-9, commitNs.sum / 1e9),
      "compact.ms" -> Stats.median(compactions.map(_._1).toSeq),
      "compact.bytes_rewritten" -> Stats.median(compactions.map(_._2).toSeq))
  }

  override def close(): Unit = if (ingest != null) ingest.stop()
}

object LogWorkload {
  val Batches = 2
  val BatchLines = 10000
  /** Event time each batch covers; the last one ends at the anchor, and
    * the last hour partitions hold files of both commits.
    */
  val BatchSpanNs: Long = 40 * 60 * 1000000000L
  /** The pinned `--since` reference: the newest event time. */
  val AsOfNs: Long = CriGen.anchorNs

  final case class Q(ns: Option[Int], pod: Option[Int], container: Option[Int],
      since: Option[Long], limit: Option[Int], output: LogOutput)
}

/** Discards output, counting lines. */
final class LineCounter extends java.io.OutputStream {
  @volatile var lines = 0L
  override def write(b: Int): Unit = if (b == '\n') lines += 1
  override def write(b: Array[Byte], off: Int, len: Int): Unit = {
    var i = off
    while (i < off + len) { if (b(i) == '\n') lines += 1; i += 1 }
  }
}
