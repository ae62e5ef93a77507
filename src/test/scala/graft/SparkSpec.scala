package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.scalatest.funsuite.AnyFunSuite

/** Shared session base: one local SparkSession per JVM (suites share it). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config(graft.fs.LocalDisk.sparkConfs.toMap)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    GraftSession.configure(s)
  }
  val sf = "/root/testdata/sf0.001"

  /** Append `df` straight into a store's live data dir
    * (`GraftStore.resolve`), bypassing the commit protocol — how specs
    * plant small-file debt or a racing writer. `maxRecordsPerFile` 0 = no
    * cap.
    */
  def appendRaw(df: DataFrame, root: String, partitionCols: Seq[String],
      maxRecordsPerFile: Long = 0L,
      options: Map[String, String] = Map.empty): Unit =
    df.write.partitionBy(partitionCols: _*)
      .option("maxRecordsPerFile", maxRecordsPerFile).options(options)
      .mode("append").parquet(logs.GraftStore.resolve(spark, root))

  /** Snapshot `version` (default: the live one) of a versioned store read
    * by Spark's own parquet reader: one `basePath` read per leg, the
    * version's own directory first, partition types inferred by Spark,
    * unioned by name, pending deletion vectors applied — the reference the
    * store's snapshot relation is checked against.
    */
  def inferredRead(root: String, version: Option[Int] = None): DataFrame = {
    val n = version.getOrElse(logs.GraftStore.currentVersion(spark, root))
    val own = logs.GraftStore.resolveVersion(spark, root, n)
    val entries = logs.GraftStore.compositeEntries(spark, root, n)
    val dv = logs.DeleteVectors.read(spark, own)
    val legs = entries.groupBy(_.legBase).toSeq
      .sortBy { case (base, _) => (base != own, base) }
      .map { case (base, es) =>
        val leg = spark.read.option("basePath", base).parquet(es.map(_.physical).sorted: _*)
        if (dv.isEmpty) leg else logs.DeleteVectors.tagMeta(leg)
      }.reduce(_.unionByName(_))
    if (dv.isEmpty) legs else logs.DeleteVectors.applyTo(spark, legs, dv, entries)
  }

  /** Files the executed scans of `df` read: their `numFiles` metric after
    * a collect. (A file index's `inputFiles` lists the whole snapshot, not
    * what a pruned scan opened.)
    */
  def scannedFiles(df: DataFrame): Long = {
    df.collect()
    graft.plans.PlanScans.finalNodes(df).collect {
      case s: FileSourceScanExec => s.metrics("numFiles").value
    }.sum
  }
}
