package graftbench

/** The per-layer metrics of a traced run. Every workload reports every
  * name; a layer the workload does not exercise reads 0.
  */
object Layers {
  val units: Seq[(String, String)] = Seq(
    "host.calib_ms" -> "ms",
    "host.steal_pct" -> "%",
    "trace.overhead_ms" -> "ms",
    "query.build_ms" -> "ms",
    "query.build_jobs" -> "count",
    "query.plan_ms" -> "ms",
    "query.exec_ms" -> "ms",
    "query.exec_jobs" -> "count",
    "query.rows" -> "count",
    "op.jobs" -> "count",
    "op.driver_gap_ms" -> "ms",
    "op.tasks" -> "count",
    "op.executor_cpu_ms" -> "ms",
    "op.gc_ms" -> "ms",
    "op.shuffle_bytes" -> "bytes",
    "scan.files_read" -> "count",
    "scan.bytes_read" -> "bytes",
    "scan.files_read_ratio" -> "ratio",
    "render.ms" -> "ms",
    "stream.latest_offset_ms" -> "ms",
    "stream.add_batch_ms" -> "ms",
    "stream.wal_commit_ms" -> "ms",
    "stream.planning_ms" -> "ms",
    "commit.jobs" -> "count",
    "commit.files_added" -> "count",
    "store.files_live" -> "count",
    "visible.ms" -> "ms",
    "ingest.lines_per_s" -> "1/s",
    "compact.ms" -> "ms",
    "compact.bytes_rewritten" -> "bytes",
    "tables.cache_build_ms" -> "ms")

  def unit(name: String): String = units.toMap.getOrElse(name, "count")

  /** Zero for every layer, so a workload fills in only what it exercises. */
  def zeros: Map[String, Double] =
    units.map(_._1).filterNot(n => n.startsWith("host.") || n == "trace.overhead_ms")
      .map(_ -> 0.0).toMap

  /** Per-op readings common to all workloads, as medians over the ops of
    * a traced window: each op is a `query` span with `build` and `plan`
    * children and one child, `execPhase`, that runs its jobs.
    */
  def perOp(tr: Trace, execPhase: String): Map[String, Double] = {
    import scala.jdk.CollectionConverters._
    val spans = tr.spans.asScala.toSeq
    def spanMs(name: String) = Stats.median(spans.filter(_.name == name).map(_.ms))
    val rows = spans.filter(_.name == "query").map { q =>
      val js = tr.jobsOf(q.op)
      val execJobs = js.filter(_.phase == execPhase)
      val exec = spans.filter(s => s.op == q.op && s.name == execPhase)
      val t = tr.tasksOf(js)
      val (files, bytes) = tr.scanOfJobs(js)
      Map(
        "query.build_jobs" -> js.count(_.phase == "build").toDouble,
        "query.exec_jobs" -> execJobs.size.toDouble,
        "query.exec_ms" -> exec.map(s => s.ms - tr.driverGapMs(s.start, s.end, execJobs)).sum,
        "render.ms" -> exec.map(s => tr.driverGapMs(s.start, s.end, execJobs)).sum,
        "op.jobs" -> js.size.toDouble,
        "op.driver_gap_ms" -> tr.driverGapMs(q.start, q.end, js),
        "op.tasks" -> t.tasks.toDouble,
        "op.executor_cpu_ms" -> t.cpuNs / 1e6,
        "op.gc_ms" -> t.gcMs.toDouble,
        "op.shuffle_bytes" -> t.shuffleBytes.toDouble,
        "scan.files_read" -> files.toDouble,
        "scan.bytes_read" -> bytes.toDouble)
    }
    val medians = if (rows.isEmpty) Map.empty[String, Double]
      else rows.head.keys.map(k => k -> Stats.median(rows.map(_(k)))).toMap
    zeros ++ medians ++ Map("query.build_ms" -> spanMs("build"), "query.plan_ms" -> spanMs("plan"))
  }
}
