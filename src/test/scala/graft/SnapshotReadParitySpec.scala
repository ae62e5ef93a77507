package graft

import graft.logs._
import graft.sources.GraftSourceProvider
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, MetadataBuilder}
import java.nio.file.Files

/** The hive query path plans through the store's snapshot relation
  * (`format("graft")`), whose schema is resolved on the driver from one
  * footer. Two parities pin it to what it replaced: the driver schema equals
  * Spark's own parquet inference, and `LogQuery`'s output equals the same
  * row-level query over [[GraftStore.readStore]], row for row and in order.
  */
class SnapshotReadParitySpec extends SparkSpec {
  import spark.implicits._

  private val parts = Seq("cluster", "namespace", "date")
  private val secNs = 1000000000L
  /** 2024-01-15T00:00:00Z */
  private val t0 = 1705276800L * secNs
  /** Row spacing: 240 rows cover two dates, every `time_ns` distinct. */
  private val stepNs = 720L * secNs

  private def fixture(): DataFrame = spark.range(240)
    .select($"id", (lit(t0) + $"id" * stepNs).as("time_ns"))
    .select(CriFunctions.nanosToTimestamp($"time_ns").as("time"), $"time_ns",
      when($"id" % 3 === 0, "stderr").otherwise("stdout").as("stream"),
      lit("F").as("logtag"), concat(lit("line "), $"id").as("message"),
      lit("dev").as("cluster"),
      concat(lit("ns-"), ($"id" % 3).cast("string")).as("namespace"),
      lit("n1").as("node"),
      concat(lit("pod-"), ($"id" % 4).cast("string")).as("pod"),
      when($"id" % 2 === 0, "app").otherwise("sidecar").as("container"),
      concat(lit("uid-"), ($"id" % 4).cast("string")).as("pod_id"))
    .withColumn("date", date_format($"time", "yyyy-MM-dd"))

  private def newRoot(tag: String): String =
    Files.createTempDirectory(s"graft-parity-$tag").resolve("store").toString

  private def dataFiles(dir: String): Seq[FileStatus] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    FileStats.listDirEntries(spark, dir).map(e => fs.getFileStatus(new Path(e.physical)))
  }

  private def assertSchemaParity(dir: String): org.apache.spark.sql.types.StructType = {
    val files = dataFiles(dir)
    assert(files.nonEmpty)
    val spark0 = new ParquetFileFormat().inferSchema(spark, Map.empty, files)
    val driver = GraftSourceProvider.inferSchema(spark, Map.empty, files)
    assert(spark0.isDefined && driver == spark0,
      s"driver schema $driver differs from Spark's inference $spark0")
    driver.get
  }

  /** `q` over the snapshot relation vs the same row-level query over
    * `readStore`: identical rows in identical `time_ns` order. Returns the
    * snapshot-side frame.
    */
  private def assertQueryParity(root: String, q: LogQuery,
      limit: Option[Int] = None): DataFrame = {
    def lim(df: DataFrame) = limit.fold(df)(df.limit)
    val got = lim(q.dataFrame(spark, root))
    val want = lim(q.selectFrom(GraftStore.readStore(spark, root))).collect().toSeq
    assert(want.nonEmpty, s"$q: empty reference result")
    assert(got.collect().toSeq == want, s"$q: snapshot read differs from readStore")
    got
  }

  test("driver-resolved schema equals Spark's parquet inference") {
    // graft-written hive store
    val root = newRoot("schema")
    LogIngest.writeHive(fixture(), root, partitionCols = parts)
    assert(assertSchemaParity(GraftStore.resolve(spark, root)).fieldNames
      .contains("pod_id"))

    // a store from before pod_id existed
    val legacy = newRoot("schema-legacy")
    LogIngest.writeHive(fixture().drop("pod_id"), legacy, partitionCols = parts)
    assert(!assertSchemaParity(GraftStore.resolve(spark, legacy)).fieldNames
      .contains("pod_id"))

    // Spark's row-metadata key carries field metadata the parquet schema
    // cannot: only a reader that honors the key keeps it
    val keyed = newRoot("schema-keyed")
    val tagged = new MetadataBuilder().putString("comment", "epoch nanos").build()
    spark.range(3).select($"id".as("time_ns", tagged), lit("m").as("message"))
      .write.parquet(s"$keyed/namespace=a")
    assert(assertSchemaParity(keyed)("time_ns").metadata == tagged)

    // TIMESTAMP(NANOS) from a non-Spark writer reads as a long
    val nanos = newRoot("schema-nanos")
    writeNanosFile(s"$nanos/namespace=a/part-0.parquet")
    assert(assertSchemaParity(nanos)("time_ns").dataType == LongType)
    assert(spark.read.format("graft").load(nanos)
      .select($"time_ns").as[Long].collect().toSeq == Seq(t0, t0 + stepNs))
  }

  /** Two rows through parquet's example writer: `time_ns` is
    * TIMESTAMP(NANOS) and the footer has no Spark schema key.
    */
  private def writeNanosFile(file: String): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.util.HadoopOutputFile
    val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      "message log { required int64 time_ns (TIMESTAMP(NANOS,true)); " +
        "required binary message (STRING); }")
    val conf = spark.sparkContext.hadoopConfiguration
    val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(new Path(file), conf))
      .withConf(conf).withType(schema).build()
    val groups = new SimpleGroupFactory(schema)
    try Seq(t0, t0 + stepNs).foreach(ns =>
      w.write(groups.newGroup().append("time_ns", ns).append("message", s"m$ns")))
    finally w.close()
  }

  test("hive LogQuery output is row-identical to the readStore path") {
    val root = newRoot("query")
    LogIngest.writeHive(fixture(), root, partitionCols = parts)
    val total = spark.read.format("graft").load(root).inputFiles.length
    assert(total >= 6, s"fixture too small: $total files")

    // `prunes`: the vector tier's delegate scan is hidden from the plan's
    // file-scan nodes, so file counts are asserted on the native tier only
    def shapes(prunes: Boolean): Unit = {
      // namespace scan
      assertQueryParity(root, LogQuery(LogSelector(Map("namespace" -> "ns-1")),
        layout = LogLayout.Hive, output = LogOutput.Lines))
      // pod + container probe
      assertQueryParity(root, LogQuery(
        LogSelector(Map("pod" -> "pod-2", "container" -> "app")),
        layout = LogLayout.Hive, output = LogOutput.Json))
      // pinned --since: the cutoff falls on day two, so day one's files prune
      val asOf = t0 + 240 * stepNs
      val pinned = assertQueryParity(root, LogQuery(sinceSeconds = Some(20 * 3600),
        asOfNanos = Some(asOf), layout = LogLayout.Hive, output = LogOutput.Raw))
      if (prunes)
        assert(scannedFiles(pinned) < total, "pinned --since must prune files")
      // un-pinned --since: the same cutoff against now(), half a row step
      // clear of the nearest row so seconds of test time cannot move it
      val cutoff = t0 + 150 * stepNs + stepNs / 2
      val since = (System.currentTimeMillis() * 1000000L - cutoff) / secNs
      val unpinned = assertQueryParity(root, LogQuery(sinceSeconds = Some(since),
        layout = LogLayout.Hive, output = LogOutput.Columns))
      if (prunes)
        assert(scannedFiles(unpinned) < total, "un-pinned --since must prune files")
      // selector-less --limit
      assertQueryParity(root, LogQuery(layout = LogLayout.Hive,
        output = LogOutput.Raw), limit = Some(25))
    }
    shapes(prunes = true)

    // pending deletion vectors: the snapshot relation delegates to the
    // vector-applying frame; every shape must still match
    DeleteVectors.deleteWhere(spark, root, $"message".endsWith("7"))
    assert(DeleteVectors.read(spark, GraftStore.resolve(spark, root)).nonEmpty,
      "the store must carry pending deletion vectors")
    shapes(prunes = false)
  }
}
