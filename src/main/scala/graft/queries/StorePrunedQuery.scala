package graft.queries

import graft.Tables
import graft.logs._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** x14 — the stats-pruned `--since` read ([[FileStats]] through the
  * snapshot relation's [[graft.sources.GraftFileIndex]]), oracle-gated.
  *
  * Builds a date-partitioned versioned store from `events`, then runs the
  * engine's `--since 7d` query pinned at the newest event: the commit-time
  * sidecar drops every file whose `time_ns` max is older than the cutoff
  * from the scan list BEFORE any footer is opened (the at-scale point: a
  * 100 TB store at ~1 MB objects is ~10⁸ footers). DuckDB restates the
  * surviving rows straight from `events`, so over- OR under-pruning flips
  * the hash red; the file-list assertion itself lives in FileStatsSpec.
  */
object StorePrunedQuery {

  private val memo =
    new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()

  val SinceSeconds: Long = 7L * 86400

  def run(spark: SparkSession, dir: String): DataFrame = synchronized {
    Tables.memo(memo, dir, spark)(build(spark, dir))
  }

  private def build(spark: SparkSession, dir: String): DataFrame = {
    val work = graft.tools.TempRoots.createTempDir("graft-pruned")
    val root = work.resolve("lake").toString
    val ev = Tables.events(spark, dir)
    val df = ev.select(
      CriFunctions.nanosToTimestamp(col("ts")).as("time"),
      col("ts").as("time_ns"), lit("stdout").as("stream"),
      lit("F").as("logtag"), col("props").as("message"),
      lit("dev").as("cluster"), lit("ns0").as("namespace"),
      lit("n1").as("node"), lit("p1").as("pod"), lit("app").as("container"))
      .withColumn("date", date_format(col("time"), "yyyy-MM-dd"))
    LogIngest.writeHive(df, root, partitionCols = Seq("cluster", "namespace", "date"))

    val maxNs = ev.agg(max(col("ts"))).head.getLong(0)
    LogQuery(layout = LogLayout.Hive, output = LogOutput.Raw,
      sinceSeconds = Some(SinceSeconds), asOfNanos = Some(maxNs))
      .dataFrame(spark, root)
      .select(CriFunctions.nanosToMicros(col("time_ns")).as("time_us"),
        col("message"))
      .orderBy(col("time_us"), col("message"))
  }
}
