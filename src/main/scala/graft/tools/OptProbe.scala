package graft.tools

import graft.{GraftSession, SparkEntry, Tables}

/** Round-16 optimization probe: isolates named queries (noop sink, repeated)
  * and dumps their `explain("formatted")` plans for the plan-diff record.
  *
  * Usage: `SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_PLAN_SUFFIX=before \
  *   sbt "runMain graft.tools.OptProbe q3_top_revenue q9_product_profit"`
  *
  * Prints one JSON line per query: {"name":..., "runs":[s,s,s], "min":s}.
  * Plans land in `$SPARK_GRAFT_PLAN_DIR/<name>_<suffix>.txt` (default
  * plans/r17). Measurement methodology is the guide §1.4 noop sink;
  * repetitions separate plan/codegen warmup from steady-state execution
  * (the bench's own warm numbers are the contract; this tool is the inner
  * loop). For job-level attribution, run it under sbt with `GRAFT_LOG4J`
  * naming a log4j2 file that sets `org.apache.spark.scheduler.DAGScheduler`
  * to INFO: Spark then logs "Job N finished: ..., took T ms" per job.
  */
object OptProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val suffix = sys.env.getOrElse("SPARK_GRAFT_PLAN_SUFFIX", "before")
    val reps = sys.env.getOrElse("SPARK_GRAFT_PROBE_REPS", "3").toInt
    val planDir = new java.io.File(
      sys.env.getOrElse("SPARK_GRAFT_PLAN_DIR", "plans/r17"))
    planDir.mkdirs()
    val spark = GraftSession.local("graft-optprobe")
    spark.sparkContext.setLogLevel("ERROR")
    // same cache-warm shape as Bench: the probe measures query execution,
    // not repeated parquet decodes of the shared base tables
    Tables.warm(spark, sfDir)
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { name =>
      SparkEntry.queries.get(name) match {
        case None => System.err.println(s"[probe] unknown query: $name")
        case Some(fn) =>
          spark.sparkContext.setJobDescription(s"probe:$name")
          val times = (1 to reps).map { _ =>
            val t0 = System.nanoTime()
            fn(spark, sfDir).write.format("noop").mode("overwrite").save()
            (System.nanoTime() - t0) / 1e9
          }
          val df = fn(spark, sfDir)
          val plan = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          val out = new java.io.PrintWriter(
            new java.io.File(planDir, s"${name}_$suffix.txt"))
          try out.println(plan) finally out.close()
          val runsJson = times.map(t => f"$t%.3f").mkString("[", ",", "]")
          println(s"""{"name":"$name","runs":$runsJson,"min":${f"${times.min}%.3f"}}""")
      }
    }
    spark.stop()
  }
}
