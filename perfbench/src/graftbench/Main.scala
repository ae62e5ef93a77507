package graftbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.SparkSession

/** What one closed-loop window measured. */
final case class Window(latNs: Array[Long], seconds: Double, attempted: Long, failed: Long) {
  def p(q: Double): Double = Stats.hdQuantile(latNs.map(_ / 1e6), q)
  def perSecond: Double = latNs.length / seconds
}

/** A workload: repeated set-up, one closed-loop operation, and the checks
  * and layer readings that follow the timed window.
  */
trait Workload {
  /** Clients of the closed loop. */
  def clients: Int
  /** Ops per round of the workload's mix; a window runs whole rounds. */
  def round: Int
  /** One full set-up from scratch; it discards the state of the one
    * before. The last one's state serves the timed window.
    */
  def setup(rep: Int, tr: Trace): Unit
  /** Once-only preparation after the timed set-ups, outside `setup_s`. */
  def afterSetup(): Unit = ()
  /** One operation: its latency in ns, None on a wrong result; throws on
    * failure.
    */
  def op(i: Long, tr: Trace): Option[Long]
  /** Idle time so far that set-ups spent waiting on a clock rather than on
    * the program; `setup_s` leaves it out.
    */
  def idleNs: Long = 0L
  /** Untimed checks after the windows: (attempted, failed). A traced run
    * passes its trace, for layers measured only there.
    */
  def verify(traced: Option[Trace]): (Long, Long) = (0L, 0L)
  /** Stored bytes per input byte, measured after the window. */
  def bytesPerInputByte(): Double
  /** Per-layer readings from a traced window. */
  def layers(tr: Trace, w: Window): Map[String, Double]
  def close(): Unit = ()
}

object Main {
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts.getOrElse("trace", "0") == "1"
    val work = Paths.get(opts("work")).toAbsolutePath
    val traceOut = Paths.get(opts.getOrElse("trace-out", work.resolve("trace").toString))

    val calib0 = Calib.ms()
    val cpu0 = Calib.cpuTicks()
    val spark = graft.GraftSession.local("graftbench")
    val jvm0 = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    def at(what: String): Unit =
      System.err.println(f"[perfbench] $what at ${(System.currentTimeMillis() - jvm0) / 1e3}%.1f s")
    at("session up")
    spark.sparkContext.setLogLevel("ERROR")
    val w: Workload = workload match {
      case "logs" => new LogWorkload(spark, seed, work)
      case "analytics" => new AnalyticsWorkload(spark, seed, work)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }
    val off = new Trace(false)
    val setupS = (0 until SetupReps).map { r =>
      val idle0 = w.idleNs
      val t0 = System.nanoTime()
      w.setup(r, off)
      val idle = (w.idleNs - idle0) / 1e9
      val s = (System.nanoTime() - t0) / 1e9 - idle
      System.err.println(f"[perfbench] setup $r: $s%.3f s (idle $idle%.3f s left out)")
      s
    }
    val t1 = System.nanoTime()
    w.afterSetup()
    System.err.println(f"[perfbench] after setup: ${(System.nanoTime() - t1) / 1e9}%.3f s")
    at("window start")
    val plain = closedLoop(w, off, seconds)
    at("window end")
    val metrics = scala.collection.mutable.LinkedHashMap[String, (Double, String)]()
    var attempted = plain.attempted
    var failed = plain.failed
    val on = if (traced) Some(new Trace(true)) else None
    on.foreach { tr =>
      // the traced window starts from a fresh set-up, so it sees the same
      // state as the untraced one
      tr.attach(spark)
      w.setup(SetupReps, tr)
      val tw = closedLoop(w, tr, seconds)
      attempted += tw.attempted; failed += tw.failed
      val (va, vf) = w.verify(on)
      attempted += va; failed += vf
      tr.drain()
      tr.detach(spark)
      w.layers(tr, tw).foreach { case (k, v) => metrics(k) = (v, Layers.unit(k)) }
      metrics("trace.overhead_ms") = (tw.p(0.5) - plain.p(0.5), "ms")
      tr.write(traceOut.resolve(s"$workload-seed$seed.spans.jsonl"))
    }
    if (!traced) {
      val (va, vf) = w.verify(None)
      attempted += va; failed += vf
    }
    val bpi = w.bytesPerInputByte()
    w.close()
    val heapMb = Calib.heapRetainedMb()
    spark.stop()
    at("session stopped")
    val calib1 = Calib.ms()
    val steal = Calib.stealPct(cpu0, Calib.cpuTicks())
    // window quality on every run: a line of its own before the result,
    // whose metrics are the end-to-end or the per-layer set only
    println(s"""{"host.calib_ms": {"start": ${Stats.num(calib0)}, "end": ${Stats.num(calib1)}}, """ +
      s""""host.steal_pct": ${Stats.num(steal)}}""")
    System.err.println(f"[perfbench] $workload: ${plain.latNs.length} ops, p50 ${plain.p(0.5)}%.1f ms, " +
      f"p90 ${plain.p(0.9)}%.1f ms, error_rate ${failed.toDouble / math.max(1, attempted)}")
    if (traced) {
      metrics("host.calib_ms") = ((calib0 + calib1) / 2, "ms")
      metrics("host.steal_pct") = (steal, "%")
    }
    else {
      metrics("setup_s") = (Stats.quantile(setupS.toArray, 0.5), "s")
      metrics("op_p50_ms") = (plain.p(0.5), "ms")
      metrics("op_p90_ms") = (plain.p(0.9), "ms")
      metrics("ops_per_s") = (plain.perSecond, "1/s")
      metrics("heap_retained_mb") = (heapMb, "MB")
      metrics("bytes_per_input_byte") = (bpi, "ratio")
    }
    val m = metrics.map { case (k, (v, u)) => s""""$k": {"value": ${Stats.num(v)}, "unit": "$u"}""" }
      .mkString(", ")
    println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": {$m}}""")
  }

  /** Closed loop: each client issues its next op when the last returns.
    * Op `i` is the workload's `i`-th op; after the deadline the clients
    * finish the round in progress, so every window runs whole rounds of
    * the mix (give or take one op per client).
    */
  def closedLoop(w: Workload, tr: Trace, seconds: Double): Window = {
    val lat = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
    val attempted = new AtomicLong(0)
    val failed = new AtomicLong(0)
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    val started = new AtomicLong(0)
    val end = new AtomicLong(Long.MaxValue)
    def more(i: Long): Boolean =
      System.nanoTime() < deadline ||
        i < end.updateAndGet(e => if (e == Long.MaxValue) (i + w.round - 1) / w.round * w.round else e)
    val threads = (0 until w.clients).map { c =>
      val t = new Thread(() => {
        var i = started.getAndIncrement()
        while (more(i)) {
          attempted.incrementAndGet()
          val r = try w.op(i, tr) catch {
            case e: Throwable =>
              System.err.println(s"[perfbench] op failed: $e"); e.printStackTrace(); None
          }
          r match {
            case Some(ns) => lat.add(ns)
            case None => failed.incrementAndGet()
          }
          i = started.getAndIncrement()
        }
      }, s"perfbench-client-$c")
      t.start(); t
    }
    threads.foreach(_.join())
    val wall = (System.nanoTime() - t0) / 1e9
    import scala.jdk.CollectionConverters._
    Window(lat.asScala.map(_.longValue).toArray, wall, attempted.get, failed.get)
  }
}

object Stats {
  /** Linear-interpolated quantile; NaN-free (0 for an empty sample). */
  def quantile(xs: Array[Double], q: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs.toArray, 0.5)

  /** Harrell-Davis quantile: the mean of every order statistic weighted by
    * a Beta((n+1)q, (n+1)(1-q)) distribution. A window holds a few dozen
    * ops of unlike cost, and interpolating only the two samples nearest a
    * tail quantile makes it jump between one query's latency and the
    * next's; weighing all of them gives a steadier estimate. Below ten
    * samples it falls back to [[quantile]].
    */
  def hdQuantile(xs: Array[Double], q: Double): Double = {
    if (xs.length < 10) return quantile(xs, q)
    val s = xs.sorted
    val n = s.length
    val a = (n + 1) * q
    val b = (n + 1) * (1 - q)
    // the Beta(a, b) CDF on a grid, by the trapezoid rule over its density
    val g = 20000
    val logPdf = Array.tabulate(g - 1) { k =>
      val t = (k + 1).toDouble / g
      (a - 1) * math.log(t) + (b - 1) * math.log1p(-t)
    }
    val top = logPdf.max
    val cdf = new Array[Double](g + 1)
    var k = 1
    while (k < g) {
      val lo = if (k == 1) 0.0 else math.exp(logPdf(k - 2) - top)
      cdf(k) = cdf(k - 1) + (lo + math.exp(logPdf(k - 1) - top)) / 2
      k += 1
    }
    cdf(g) = cdf(g - 1) + math.exp(logPdf(g - 2) - top) / 2
    def at(x: Double): Double = {
      val pos = x * g
      val i = math.min(pos.toInt, g - 1)
      (cdf(i) + (cdf(i + 1) - cdf(i)) * (pos - i)) / cdf(g)
    }
    (0 until n).map(i => (at((i + 1).toDouble / n) - at(i.toDouble / n)) * s(i)).sum
  }
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
}

/** Window quality: a fixed CPU-only loop timed at the start and end of a
  * run. On a quiet host it reads the same run after run; CPU steal from
  * neighbours shows as a larger value.
  */
object Calib {
  @volatile private var sink = 0L
  private def loop(): Long = {
    var x = 0x9e3779b97f4a7c15L
    var i = 0
    while (i < 20000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    x
  }
  def ms(): Double = Stats.median((0 until 5).map { _ =>
    val t0 = System.nanoTime(); sink += loop(); (System.nanoTime() - t0) / 1e6
  })

  /** The host's CPU time counters (`/proc/stat`, all CPUs): user, nice,
    * system, idle, iowait, irq, softirq, steal; empty where unreadable.
    */
  def cpuTicks(): Array[Long] = try {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().next().trim.split("\\s+").slice(1, 9).map(_.toLong)
    finally src.close()
  } catch { case _: Exception => Array.empty }

  /** Share of CPU time stolen by the host between two readings, in %. */
  def stealPct(a: Array[Long], b: Array[Long]): Double =
    if (a.length < 8 || b.length < 8) 0.0
    else {
      val d = b.indices.map(i => b(i) - a(i))
      if (d.sum <= 0) 0.0 else 100.0 * d(7) / d.sum
    }

  /** Used heap after a full GC, least of three tries (GC is a request). */
  def heapRetainedMb(): Double = {
    val mx = java.lang.management.ManagementFactory.getMemoryMXBean
    (0 until 3).map { _ =>
      System.gc(); Thread.sleep(200)
      mx.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
    }.min
  }
}

object Files2 {
  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val all = Files.walk(p).toArray.map(_.asInstanceOf[Path]).sortBy(-_.getNameCount)
    all.foreach(f => Files.deleteIfExists(f))
  }
  def dirSize(path: String): Long = {
    val p = Paths.get(path)
    if (!Files.exists(p)) 0L
    else Files.walk(p).toArray.map(_.asInstanceOf[Path]).filter(Files.isRegularFile(_))
      .map(Files.size(_)).sum
  }
  /** The files a graft store's current snapshot reads. */
  def liveFiles(spark: SparkSession, root: String): Seq[String] =
    graft.logs.GraftStore.readStore(spark, root).inputFiles.toSeq.distinct
  def sizeOf(paths: Seq[String]): Long = paths.map { s =>
    val f = new java.io.File(new java.net.URI(s).getPath)
    if (f.exists) f.length else 0L
  }.sum
}
