package graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates, SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One traced interval. Times are epoch nanoseconds; `parent` is the id of
  * the enclosing span (0 for a root) and `op` the operation it belongs to.
  */
final case class Span(id: Long, name: String, start: Long, end: Long, parent: Long, op: Long) {
  def ms: Double = (end - start) / 1e6
}

/** Spans and counters recorded from outside the program: the benchmark's
  * own timers around calls into public graft functions, a [[SparkListener]]
  * (jobs, tasks, SQL executions and their scan-node SQLMetrics) and a
  * [[StreamingQueryListener]] (per-batch `durationMs`). Spans stay in
  * memory and are written out once, when the run ends. When disabled,
  * nothing is registered and [[span]] only runs its body.
  */
final class Trace(val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  val spans = new ConcurrentLinkedQueue[Span]()
  /** Epoch-nanosecond clock with nanoTime resolution. */
  private val base = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def now(): Long = base + System.nanoTime()

  def newOp(): Long = ids.incrementAndGet()

  /** Time `body` as span `name` of `op`, child of the span open on this
    * thread; also tag the Spark jobs it starts with the op, phase and span
    * so the listener can attribute them.
    */
  def span[T](sc: SparkContext, name: String, op: Long)(body: => T): T = {
    if (!enabled) return body
    val id = ids.incrementAndGet()
    val prevOp = sc.getLocalProperty(Trace.OpKey)
    val prevPhase = sc.getLocalProperty(Trace.PhaseKey)
    val prevSpan = sc.getLocalProperty(Trace.SpanKey)
    sc.setLocalProperty(Trace.OpKey, op.toString)
    sc.setLocalProperty(Trace.PhaseKey, name)
    sc.setLocalProperty(Trace.SpanKey, id.toString)
    val t0 = now()
    try body
    finally {
      spans.add(Span(id, name, t0, now(), Option(prevSpan).fold(0L)(_.toLong), op))
      sc.setLocalProperty(Trace.OpKey, prevOp)
      sc.setLocalProperty(Trace.PhaseKey, prevPhase)
      sc.setLocalProperty(Trace.SpanKey, prevSpan)
    }
  }

  def record(name: String, start: Long, end: Long, op: Long): Unit =
    if (enabled) spans.add(Span(ids.incrementAndGet(), name, start, end, 0L, op))

  // ---- Spark-side signals ----

  final case class Job(id: Int, op: Long, phase: String, span: Long, start: Long,
      var end: Long, sqlExec: Long)
  final class TaskAgg { var tasks = 0L; var cpuNs = 0L; var gcMs = 0L; var shuffleBytes = 0L }

  val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  val taskAgg = new ConcurrentHashMap[Int, TaskAgg]()
  /** SQL execution id -> accumulator ids of scan-node file metrics. */
  private val scanFileAcc = new ConcurrentHashMap[Long, Long]()
  private val scanByteAcc = new ConcurrentHashMap[Long, Long]()
  final class ScanAgg { var files = 0L; var bytes = 0L }
  val scans = new ConcurrentHashMap[Long, ScanAgg]()
  val streamBatches = new ConcurrentLinkedQueue[Map[String, Long]]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = e.properties
      def prop(k: String) = Option(if (p == null) null else p.getProperty(k))
      val op = prop(Trace.OpKey).map(_.toLong).getOrElse(-1L)
      val exec = prop("spark.sql.execution.id").map(_.toLong).getOrElse(-1L)
      jobs.put(e.jobId, Job(e.jobId, op, prop(Trace.PhaseKey).getOrElse(""),
        prop(Trace.SpanKey).map(_.toLong).getOrElse(0L), e.time * 1000000L, -1L, exec))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val j = jobs.get(e.jobId)
      if (j != null) j.end = e.time * 1000000L
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val job: Int = Option(stageJob.get(e.stageId)).map(_.intValue).getOrElse(-1)
      val a = taskAgg.computeIfAbsent(job, _ => new TaskAgg)
      val m = e.taskMetrics
      a.synchronized {
        a.tasks += 1
        if (m != null) {
          a.cpuNs += m.executorCpuTime
          a.gcMs += m.jvmGCTime
          a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        }
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => registerScans(s.executionId, s.sparkPlanInfo)
      case u: SparkListenerSQLAdaptiveExecutionUpdate => registerScans(u.executionId, u.sparkPlanInfo)
      case d: SparkListenerDriverAccumUpdates =>
        d.accumUpdates.foreach { case (acc, v) =>
          if (scanFileAcc.containsKey(acc)) scanOf(d.executionId).synchronized(scanOf(d.executionId).files += v)
          if (scanByteAcc.containsKey(acc)) scanOf(d.executionId).synchronized(scanOf(d.executionId).bytes += v)
        }
      case _ =>
    }
  }

  private def scanOf(exec: Long): ScanAgg = scans.computeIfAbsent(exec, _ => new ScanAgg)

  private def registerScans(exec: Long, info: SparkPlanInfo): Unit = {
    if (info.nodeName.startsWith("Scan") || info.nodeName.contains("FileScan"))
      info.metrics.foreach { m =>
        if (m.name == "number of files read") scanFileAcc.put(m.accumulatorId, exec)
        if (m.name == "size of files read") scanByteAcc.put(m.accumulatorId, exec)
      }
    info.children.foreach(registerScans(exec, _))
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.numInputRows > 0)
        streamBatches.add(p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)
    }
  }

  def attach(spark: SparkSession): Unit = if (enabled) {
    spark.sparkContext.addSparkListener(listener)
    spark.streams.addListener(streamListener)
  }

  def detach(spark: SparkSession): Unit = if (enabled) {
    spark.sparkContext.removeSparkListener(listener)
    spark.streams.removeListener(streamListener)
  }

  /** Wait until the listener has seen the end of every job started so far. */
  def drain(timeoutMs: Long = 5000L): Unit = if (enabled) {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (jobs.values.asScala.exists(_.end < 0) && System.currentTimeMillis() < deadline)
      Thread.sleep(20)
    Thread.sleep(100)
  }

  // ---- per-op views ----

  def jobsOf(op: Long, phase: String = null): Seq[Job] =
    jobs.values.asScala.filter(j => j.op == op && (phase == null || j.phase == phase)).toSeq

  def tasksOf(js: Seq[Job]): TaskAgg = {
    val t = new TaskAgg
    js.foreach { j =>
      val a = taskAgg.get(j.id)
      if (a != null) { t.tasks += a.tasks; t.cpuNs += a.cpuNs; t.gcMs += a.gcMs; t.shuffleBytes += a.shuffleBytes }
    }
    t
  }

  def scanOfJobs(js: Seq[Job]): (Long, Long) = {
    val execs = js.map(_.sqlExec).filter(_ >= 0).distinct
    val aggs = execs.flatMap(e => Option(scans.get(e)))
    (aggs.map(_.files).sum, aggs.map(_.bytes).sum)
  }

  /** Wall of the interval minus the union of the given jobs' spans inside it. */
  def driverGapMs(start: Long, end: Long, js: Seq[Job]): Double = {
    val iv = js.filter(_.end > 0).map(j => (math.max(j.start, start), math.min(j.end, end)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.foreach { case (a, b) =>
      if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (curE > curS) covered += curE - curS
    (end - start - covered) / 1e6
  }

  /** Spans plus one span per Spark job, as JSON lines. */
  def write(file: java.nio.file.Path): Unit = if (enabled) {
    java.nio.file.Files.createDirectories(file.getParent)
    val w = java.nio.file.Files.newBufferedWriter(file)
    try {
      spans.asScala.foreach { s =>
        w.write(s"""{"id":${s.id},"name":"${s.name}","start":${s.start},"end":${s.end},"parent":${s.parent},"op":${s.op}}""")
        w.newLine()
      }
      jobs.values.asScala.toSeq.sortBy(_.id).foreach { j =>
        w.write(s"""{"id":"job-${j.id}","name":"spark.job","start":${j.start},"end":${j.end},"parent":${j.span},"op":${j.op}}""")
        w.newLine()
      }
    } finally w.close()
  }
}

object Trace {
  val OpKey = "graftbench.op"
  val PhaseKey = "graftbench.phase"
  val SpanKey = "graftbench.span"
}
