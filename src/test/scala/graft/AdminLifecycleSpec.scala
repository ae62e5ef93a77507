package graft

import graft.logs.GraftStore
import graft.streaming.CloseWriteDetector.PodClosed
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** The full operational lifecycle in ONE drive (VERDICT r04 #7): CRI ingest
  * into a dual-format serving store AND a hive analytic store, close events
  * finalize-compact both serving legs, maintenance compaction rewrites the
  * hive store through the versioned atomic swap, and retention drops the
  * expired date partition — with row counts conserved (or exactly accounted
  * for) and file counts asserted at every stage.
  */
class AdminLifecycleSpec extends SparkSpec {
  import spark.implicits._

  test("ingest -> close -> finalize -> compact -> retention, counts intact") {
    val work = Files.createTempDirectory("graft-lifecycle")
    val podsRoot = work.resolve("varlog/pods")
    // two pods, lines on two dates (15th and 16th) so retention has a target
    for (pod <- Seq("api-1", "api-2")) {
      val d = podsRoot.resolve(s"ns1_${pod}_u$pod/app")
      Files.createDirectories(d)
      Files.writeString(d.resolve("0.log"),
        s"""2024-01-15T10:30:45.000000001Z stdout F $pod day-one alpha
           |2024-01-15T10:30:46.000000002Z stderr F $pod day-one beta
           |2024-01-16T09:00:00.000000003Z stdout F $pod day-two gamma
           |2024-01-16T09:00:01.000000004Z stdout F $pod day-two delta
           |""".stripMargin)
    }
    val ingested = graft.logs.LogIngest.readCri(spark,
      podsRoot.toString + "/*/*/*.log", clusterName = "dev", nodeName = "n1")
    val totalRows = ingested.count() // 2 pods × 4 lines
    assert(totalRows == 8)

    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)

    // ---- serving store: dual-format positional, two uploads per leg ----
    val serving = work.resolve("serving-lake").toString
    for (m <- Seq("2024-02-01T00:00:00Z", "2024-02-01T00:01:00Z")) {
      val t = java.time.Instant.parse(m)
      graft.logs.LogIngest.writePositional(ingested, serving, uploadTime = t)
      graft.sources.ArrowLogWriter.writePositional(ingested, serving, uploadTime = t)
    }
    def servingFiles(suffix: String) =
      walk(new java.io.File(serving)).filter(_.getName.endsWith(suffix))
    // 2 uploads × 2 pods per leg
    assert(servingFiles(".parquet").size == 4 && servingFiles(".arrow").size == 4)
    val servingRows = spark.read.parquet(servingFiles(".parquet").map(_.getPath): _*).count()
    assert(servingRows == 2 * totalRows)

    // ---- analytic store: hive layout (versioned root) ----
    val hive = work.resolve("hive-lake").toString
    graft.logs.LogIngest.writeHive(ingested, hive,
      partitionCols = Seq("cluster", "namespace", "date"))
    // small-file mess for compaction to clean: append a second copy split
    // across many tiny files (every task hits every partition)
    appendRaw(ingested.repartition(8), hive, Seq("cluster", "namespace", "date"),
      maxRecordsPerFile = 1)
    assert(GraftStore.isPointerStore(spark, hive))
    def hiveFiles =
      GraftStore.compositeEntries(spark, hive, GraftStore.currentVersion(spark, hive))
    val hiveRowsBefore = GraftStore.readStore(spark, hive).count()
    assert(hiveRowsBefore == 2 * totalRows)
    assert(hiveFiles.size >= 10) // 8 one-row files + 2 base: the mess is real

    // ---- close + finalize: BOTH pods close, both serving legs compact ----
    val closeRoot = work.resolve("close-events").toString
    Seq(PodClosed("dev", "ns1", "api-1", "app", 4, 1L, 4L),
      PodClosed("dev", "ns1", "api-2", "app", 4, 1L, 4L)).toDS().toDF()
      .write.mode("append").parquet(closeRoot)
    val finalized = graft.logs.StreamFinalize.finalizeClosed(spark, closeRoot, serving)
    assert(finalized.toSet ==
      Set(("dev", "ns1", "api-1", "app"), ("dev", "ns1", "api-2", "app")))
    // one compact file per pod per leg, rows conserved
    assert(servingFiles(".parquet").size == 2 &&
      servingFiles(".parquet").forall(_.getName.startsWith("compact-")))
    assert(servingFiles(".arrow").size == 2 &&
      servingFiles(".arrow").forall(_.getName.startsWith("compact-")))
    assert(spark.read.parquet(servingFiles(".parquet").map(_.getPath): _*).count()
      == servingRows)
    val arrowRows = spark.read.format("graft.sources.ArrowIpcSource")
      .option("paths", servingFiles(".arrow").map(_.getPath).mkString(",")).load().count()
    assert(arrowRows == servingRows)
    // finalize is consumed: a re-run is a no-op
    assert(graft.logs.StreamFinalize.finalizeClosed(spark, closeRoot, serving).isEmpty)

    // ---- maintenance compaction on the hive store (atomic versioned swap) ----
    graft.logs.Compaction.compactHive(spark, hive,
      partitionCols = Seq("cluster", "namespace", "date"))
    assert(GraftStore.currentVersion(spark, hive) == 2)
    assert(GraftStore.readStore(spark, hive).count() == hiveRowsBefore)
    assert(hiveFiles.size <= 2, s"compaction left ${hiveFiles.size} files") // ≤1 per date

    // ---- retention: drop the expired date through the same root ----
    val deleted = graft.logs.Retention.enforceHive(spark, hive, "2024-01-16")
    assert(deleted.size == 1 && deleted.head.contains("date=2024-01-15"))
    val remaining = GraftStore.readStore(spark, hive)
    assert(remaining.count() == hiveRowsBefore / 2) // exactly the day-two half
    assert(remaining.select(min($"date".cast("string"))).head.getString(0) == "2024-01-16")
    // serving store is untouched by hive maintenance
    assert(spark.read.parquet(servingFiles(".parquet").map(_.getPath): _*).count()
      == servingRows)
  }
}
