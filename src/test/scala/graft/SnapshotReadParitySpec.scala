package graft

import graft.logs._
import graft.plans.{PlanScans, SmallScanSort}
import graft.sources.GraftSourceProvider
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{CoalesceExec, FileSourceScanExec}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, MetadataBuilder}
import java.nio.file.Files

/** The hive query path plans through the store's snapshot relation
  * (`format("graft")`), whose schema is resolved on the driver from one
  * footer, and sorts a small pruned scan in its one scan task
  * ([[SmallScanSort]]). Parities pin it to Spark's own reader: the driver
  * schema equals Spark's parquet inference, and `LogQuery`'s output equals
  * the same row-level query over Spark's per-leg read of the snapshot
  * ([[SparkSpec.inferredRead]]) — whose sort keeps Spark's range exchange —
  * row for row and in order. [[GraftStore.readStore]], which plans through
  * the same snapshot relation, matches that read too.
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
    * Spark's own per-leg read ([[inferredRead]]): identical rows in
    * identical `time_ns` order. The reference keeps the range exchange;
    * with `oneTask` the snapshot side plans no exchange and renders in
    * exactly one job, otherwise it keeps the exchange plan too. Returns the
    * snapshot-side frame.
    */
  private def assertQueryParity(root: String, q: LogQuery,
      limit: Option[Int] = None, oneTask: Boolean = true): DataFrame = {
    def lim(df: DataFrame) = limit.fold(df)(df.limit)
    val got = lim(q.dataFrame(spark, root))
    val ref = lim(q.selectFrom(inferredRead(root)))
    val want = ref.collect().toSeq
    assert(want.nonEmpty, s"$q: empty reference result")
    assert(got.collect().toSeq == want, s"$q: snapshot read differs from readStore")
    // a sort under a limit plans TakeOrderedAndProject, with no exchange node
    if (limit.isEmpty) assert(exchanges(ref) > 0, s"$q: the reference lost its exchange")
    if (oneTask) {
      assert(exchanges(got) == 0 && coalesced(got), s"$q: expected the one-task sort")
      assert(jobsDuring(render(got, q.output)) == 1, s"$q: render ran more than one job")
    } else {
      assert(!coalesced(got), s"$q: the one-task sort fired off the native tier")
      if (limit.isEmpty) assert(exchanges(got) > 0, s"$q: expected the range exchange")
    }
    got
  }

  private def exchanges(df: DataFrame): Int =
    PlanScans.finalNodes(df).count(_.isInstanceOf[ShuffleExchangeExec])

  private def coalesced(df: DataFrame): Boolean =
    PlanScans.finalNodes(df).exists(_.isInstanceOf[CoalesceExec])

  /** `LogCli.render` into a buffer; returns the number of printed lines. */
  private def render(df: DataFrame, output: LogOutput): Int = {
    val buf = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(buf, true, "UTF-8"))(LogCli.render(df, output))
    buf.toString("UTF-8").linesIterator.size
  }

  /** Spark jobs started by `body` on this thread. A marker job submitted
    * after it flushes the listener bus: one bus queue delivers job starts
    * in submission order.
    */
  private def jobsDuring(body: => Any): Int = {
    val sc = spark.sparkContext
    val id = java.util.UUID.randomUUID().toString
    val (counted, marker) = (s"counted-$id", s"marker-$id")
    val started = new java.util.concurrent.atomic.AtomicInteger()
    val flushed = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`counted`) => started.incrementAndGet()
          case Some(`marker`) => flushed.countDown()
          case _ => ()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(counted, "counted")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(marker, "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(flushed.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "listener bus did not deliver the marker job")
      started.get()
    } finally sc.removeSparkListener(listener)
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

    // TIMESTAMP(NANOS) from a non-Spark writer, planted in a store, reads
    // as a long
    val nanos = newRoot("schema-nanos")
    GraftStore.init(spark, nanos)
    writeNanosFile(s"${GraftStore.resolve(spark, nanos)}/namespace=a/part-0.parquet")
    assert(assertSchemaParity(GraftStore.resolve(spark, nanos))("time_ns").dataType == LongType)
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

    // `native`: the vector-free tier sorts in its one scan task; the vector
    // tier keeps its plan, and its delegate scan is hidden from the plan's
    // file-scan nodes, so file counts are asserted on the native tier only
    def shapes(native: Boolean): Unit = {
      // namespace scan
      assertQueryParity(root, LogQuery(LogSelector(Map("namespace" -> "ns-1")),
        layout = LogLayout.Hive, output = LogOutput.Lines), oneTask = native)
      // pod + container probe
      assertQueryParity(root, LogQuery(
        LogSelector(Map("pod" -> "pod-2", "container" -> "app")),
        layout = LogLayout.Hive, output = LogOutput.Json), oneTask = native)
      // pinned --since: the cutoff falls on day two, so day one's files prune
      val asOf = t0 + 240 * stepNs
      val pinned = assertQueryParity(root, LogQuery(sinceSeconds = Some(20 * 3600),
        asOfNanos = Some(asOf), layout = LogLayout.Hive, output = LogOutput.Raw),
        oneTask = native)
      if (native)
        assert(scannedFiles(pinned) < total, "pinned --since must prune files")
      // un-pinned --since: the same cutoff against now(), half a row step
      // clear of the nearest row so seconds of test time cannot move it
      val cutoff = t0 + 150 * stepNs + stepNs / 2
      val since = (System.currentTimeMillis() * 1000000L - cutoff) / secNs
      val unpinned = assertQueryParity(root, LogQuery(sinceSeconds = Some(since),
        layout = LogLayout.Hive, output = LogOutput.Columns), oneTask = native)
      if (native)
        assert(scannedFiles(unpinned) < total, "un-pinned --since must prune files")
      // selector-less --limit
      assertQueryParity(root, LogQuery(layout = LogLayout.Hive,
        output = LogOutput.Raw), limit = Some(25), oneTask = native)
    }
    shapes(native = true)

    // pending deletion vectors: the snapshot relation delegates to the
    // vector-applying frame; every shape must still match
    DeleteVectors.deleteWhere(spark, root, $"message".endsWith("7"))
    assert(DeleteVectors.read(spark, GraftStore.resolve(spark, root)).nonEmpty,
      "the store must carry pending deletion vectors")
    shapes(native = false)
  }

  test("the one-task sort fires only within the one-scan-task byte budget") {
    val root = newRoot("budget")
    LogIngest.writeHive(fixture(), root, partitionCols = parts)
    val q = LogQuery(LogSelector(Map("namespace" -> "ns-1")),
      layout = LogLayout.Hive, output = LogOutput.Raw)
    val probe = q.dataFrame(spark, root)
    probe.collect()
    val bytes = PlanScans.finalNodes(probe).collect {
      case s: FileSourceScanExec => s.metrics("filesSize").value
    }.sum
    val total = dataFiles(GraftStore.resolve(spark, root)).map(_.getLen).sum
    assert(bytes > 0 && bytes < total, s"pruned $bytes of $total bytes")
    // the budget counts the PRUNED files: it fires at exactly their size,
    // below the whole snapshot's
    def planned(budget: Long): (Int, Boolean, Seq[org.apache.spark.sql.Row]) =
      ConfScope.withSessionConf(spark, "spark.sql.files.maxPartitionBytes" -> budget.toString) { s =>
        val df = q.dataFrame(s, root)
        val rows = df.collect().toSeq
        (exchanges(df), coalesced(df), rows)
      }
    val (ex1, co1, fits) = planned(bytes)
    assert(ex1 == 0 && co1, "at the budget the sort must run in the scan task")
    val (ex2, co2, over) = planned(bytes - 1)
    assert(ex2 > 0 && !co2, "over the budget the range exchange must stay")
    assert(fits.nonEmpty && fits == over)
  }

  test("a sorted write over a graft snapshot keeps its file count") {
    val root = newRoot("sorted-write")
    LogIngest.writeHive(fixture(), root, partitionCols = parts)
    // without partition coalescing the exchange plan writes one file per
    // shuffle partition, so a rule that fired under the write would show
    def written(rule: Boolean): Int = ConfScope.withSessionConf(spark,
        "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
        "spark.sql.optimizer.excludedRules" -> (if (rule) "" else SmallScanSort.ruleName)) { s =>
      val sorted = s.read.format("graft").load(root).orderBy($"time_ns")
      sorted.collect()
      assert(coalesced(sorted) == rule, s"read side: rule=$rule")
      val out = Files.createTempDirectory("graft-sorted-write").resolve("out").toString
      sorted.write.parquet(out)
      new java.io.File(out).listFiles().count(_.getName.endsWith(".parquet"))
    }
    val exchangePlan = written(rule = false)
    assert(exchangePlan > 1, s"the exchange plan wrote $exchangePlan file(s)")
    assert(written(rule = true) == exchangePlan)
  }

  test("an empty pruned scan sorts to zero rows without error") {
    val root = newRoot("empty")
    LogIngest.writeHive(fixture(), root, partitionCols = parts)
    val df = LogQuery(LogSelector(Map("namespace" -> "nope")),
      layout = LogLayout.Hive, output = LogOutput.Raw).dataFrame(spark, root)
    assert(df.collect().isEmpty)
    assert(coalesced(df) && exchanges(df) == 0)
    assert(render(df, LogOutput.Raw) == 0)
    assert(render(df.limit(5), LogOutput.Raw) == 0)
  }

  test("readStore resolves leg schemas on the driver: same schema and rows, no job") {
    def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    def check(tag: String, batch: DataFrame): String = {
      val root = newRoot(tag)
      val half = $"time_ns" < t0 + 120 * stepNs
      LogIngest.writeHive(batch.filter(half), root, partitionCols = parts)
      LogIngest.writeHive(batch.filter(!half), root, partitionCols = parts)
      val n = GraftStore.currentVersion(spark, root)
      val legs = GraftStore.compositeEntries(spark, root, n).map(_.legBase).distinct.size
      assert(legs >= 2, s"$tag: expected a multi-leg snapshot, got $legs leg(s)")
      val want = inferredRead(root)
      val got = GraftStore.readStore(spark, root)
      // partition columns and their inferred types included
      assert(got.schema == want.schema, s"$tag: ${got.schema} vs ${want.schema}")
      assert(got.schema("date").dataType == org.apache.spark.sql.types.DateType)
      assert(rows(got) == rows(want) && rows(got).size == 240, s"$tag: rows differ")
      assert(jobsDuring(GraftStore.readStore(spark, root)) == 0,
        s"$tag: readStore planning ran a Spark job")
      assert(jobsDuring(inferredRead(root)) >= legs, s"$tag: inference ran no job")
      root
    }
    val root = check("legs", fixture())
    check("legs-legacy", fixture().drop("pod_id"))
    // a file that also holds its partition columns, first by path in the
    // live leg: Spark places those columns at their data position
    fixture().limit(3).withColumn("namespace", lit("aaa")).coalesce(1).write
      .parquet(s"${GraftStore.resolve(spark, root)}/cluster=dev/namespace=aaa/date=2024-01-15")
    val (got, want) = (GraftStore.readStore(spark, root), inferredRead(root))
    assert(got.schema == want.schema, s"overlap: ${got.schema} vs ${want.schema}")
    assert(rows(got) == rows(want) && rows(got).size == 243, "overlap: rows differ")
  }

  /** A two-commit store: v1's own files plus a carried append leg. */
  private def multiLeg(tag: String): String = {
    val root = newRoot(tag)
    val half = $"time_ns" < t0 + 120 * stepNs
    LogIngest.writeHive(fixture().filter(half), root, partitionCols = parts)
    LogIngest.writeHive(fixture().filter(!half), root, partitionCols = parts)
    root
  }

  test("every store read plans one GraftFileIndex scan, no union of parquet reads") {
    val root = multiLeg("one-scan")
    val n = GraftStore.currentVersion(spark, root)
    val reads = Seq(
      "readStore" -> GraftStore.readStore(spark, root),
      "readVersion" -> GraftStore.readVersion(spark, root, n),
      "readVersionPhysical" -> GraftStore.readVersionPhysical(spark, root, n),
      "readVersionTagged" -> GraftStore.readVersionTagged(spark, root, n))
    reads.foreach { case (name, df) =>
      assert(df.count() == 240, s"$name: rows")
      val scans = PlanScans.fileScans(df.filter($"time_ns" > 0L))
      assert(scans.size == 1 &&
        scans.head.relation.location.isInstanceOf[graft.sources.GraftFileIndex],
        s"$name: expected one GraftFileIndex scan, got $scans")
      assert(!df.queryExecution.optimizedPlan.exists(
        _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Union]),
        s"$name: planned a union")
    }
  }

  test("a version directory's _spark_metadata log is not data") {
    val root = newRoot("sink-log")
    LogIngest.writeHive(fixture(), root, partitionCols = parts)
    // what a copy of a streaming sink's output into v000001 leaves behind
    val log = new Path(GraftStore.resolve(spark, root), "_spark_metadata/0")
    val fs = log.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(log)
    try out.write(("v1\n{\"path\":\"file:///elsewhere/part-0.parquet\",\"size\":1," +
      "\"isDir\":false,\"modificationTime\":0,\"blockReplication\":1," +
      "\"blockSize\":1,\"action\":\"add\"}").getBytes("UTF-8"))
    finally out.close()
    def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    val graftRows = rows(spark.read.format("graft").load(root))
    assert(graftRows.size == 240)
    assert(rows(GraftStore.readStore(spark, root)) == graftRows)
    assert(!GraftStore.readStore(spark, root).inputFiles.exists(_.contains("_spark_metadata")))
  }

  test("pending deletion vectors keep the snapshot's input files") {
    val root = multiLeg("dv-files")
    val before = spark.read.format("graft").load(root).inputFiles.toSet
    assert(before.nonEmpty)
    DeleteVectors.deleteWhere(spark, root, $"message".endsWith("7"))
    assert(DeleteVectors.read(spark, GraftStore.resolve(spark, root)).nonEmpty,
      "the store must carry pending deletion vectors")
    assert(spark.read.format("graft").load(root).inputFiles.toSet == before)
    assert(GraftStore.readStore(spark, root).inputFiles.toSet == before)
  }

  test("diffVersions counts rows from the data files, not the stats sidecar") {
    val root = multiLeg("audit")
    Compaction.compactHive(spark, root, partitionCols = parts, full = true)
    val to = GraftStore.currentVersion(spark, root)
    val from = GraftStore.listVersions(spark, root).filter(_ < to).max
    assert(GraftStore.diffVersions(spark, root, from, to).rowDelta == 0L)
    // one stats line claims 1000 more rows: same key, same length
    val dir = GraftStore.resolve(spark, root)
    val stats = FileStats.read(spark, dir)
    val (key, st) = stats.head
    FileStats.write(spark, dir, (stats + (key -> st.copy(rows = st.rows + 1000L))).values.toSeq)
    assert(GraftStore.readVersion(spark, root, to).count() == 240L + 1000L,
      "the metadata tier must answer a query-level count from the edited sidecar")
    assert(GraftStore.diffVersions(spark, root, from, to).rowDelta == 0L)
  }
}

