package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Verify <sfDir> <outDir> [queryName ...]")
    val (sfDir, outDir) = (args(0), args(1))
    // optional name filter: iterate on one query without a full dump
    val only = args.drop(2).toSet
    val selected =
      if (only.isEmpty) SparkEntry.queries
      else SparkEntry.queries.filter(e => only(e._1))
    val spark = GraftSession.local("graft-verify")
    new java.io.File(outDir).mkdirs()
    // queries are independent writes to disjoint dirs: run a few at a time so
    // Spark's scheduler fills the cores the small queries leave idle
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      sys.env.getOrElse("SPARK_GRAFT_VERIFY_PARALLEL", "4").toInt)
    val gateFailures = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    selected.foreach { case (name, fn) =>
      pool.submit(new Runnable {
        def run(): Unit =
          try {
            val df = fn(spark, sfDir)
            df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
            // engine-side quality-gate check (VERDICT r12 #6): a false *_ok
            // boolean fails the run at THIS scale, not just at the driver's
            val bad = graft.tools.Gates.violations(
              spark.read.parquet(s"$outDir/$name"))
            if (bad.nonEmpty) {
              gateFailures.add(name)
              System.err.println(
                s"[verify] $name GATE FAILED: ${bad.mkString(",")} false/null")
            }
          } catch { case e: Throwable =>
            System.err.println(s"[verify] $name failed: ${e.getMessage}")
          }
      })
    }
    pool.shutdown()
    if (!pool.awaitTermination(60, java.util.concurrent.TimeUnit.MINUTES)) {
      System.err.println("[verify] TIMEOUT: not all queries completed in 60min")
      spark.stop()
      sys.exit(1) // missing result dirs must read as a failed run, not bugs
    }
    // a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness
    def q(s: String): String = graft.tools.Jsons.quote(s)
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (!gateFailures.isEmpty) {
      import scala.jdk.CollectionConverters._
      System.err.println(
        s"[verify] QUALITY GATES FAILED: ${gateFailures.asScala.toSeq.sorted.mkString(", ")}")
      sys.exit(3) // outputs exist for diagnosis; the run itself is a failure
    }
  }
}
