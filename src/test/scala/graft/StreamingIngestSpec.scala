package graft

import graft.logs._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import java.nio.file.Files

/** Structured Streaming ingestion (SURVEY §2 rows S1, K1, K3-K6): files
  * appearing over time are committed atomically per micro-batch; stop() loses
  * nothing (the SIGTERM-flush analogue, reference test.sh:427-541).
  */
class StreamingIngestSpec extends SparkSpec {
  import spark.implicits._

  test("stream ingest commits micro-batches; graceful stop loses nothing") {
    val work = Files.createTempDirectory("graft-stream")
    val in = work.resolve("varlog")
    val out = work.resolve("lake")
    val ckpt = work.resolve("ckpt")
    def put(pod: String, lines: String*): Unit = {
      val p = in.resolve(s"pods/default_${pod}_u/app/0.log")
      Files.createDirectories(p.getParent)
      Files.writeString(p, lines.mkString("", "\n", "\n"))
    }
    put("pod-a", "2024-01-15T10:00:00.000000001Z stdout F first batch")

    val q = LogStreamIngest.startStoreSink(spark, in.toString + "/pods/*/*/*.log",
      out.toString, ckpt.toString, clusterName = "dev",
      triggerInterval = "1 seconds")
    try {
      q.processAllAvailable() // ≙ upload_timeout flush (K4)
      // close-write / late file: second pod appears mid-stream (K5 analogue)
      put("pod-b", "2024-01-15T10:00:01.000000002Z stderr F second batch")
      q.processAllAvailable()
    } finally q.stop() // SIGTERM flush (K6): committed batches stay visible

    val got = GraftStore.readStore(spark, out.toString)
    assert(got.count() == 2)
    assert(got.select("pod").distinct().as[String].collect().toSet == Set("pod-a", "pod-b"))
    val ns = got.orderBy("time_ns").select("time_ns").as[Long].collect()
    assert(ns.toSeq == Seq(1705312800000000001L, 1705312801000000002L))
    // hive partition dirs present (K1 partitioned sink)
    val live = GraftStore.compositeEntries(spark, out.toString,
      GraftStore.currentVersion(spark, out.toString))
    assert(live.nonEmpty && live.forall(_.key.startsWith("/cluster=dev/")))
  }

  test("store sink refreshes registered materialized views per micro-batch") {
    val work = Files.createTempDirectory("graft-streammv")
    val in = work.resolve("varlog")
    val root = work.resolve("lake").toString
    val viewDir = work.resolve("view").toString
    def put(pod: String, lines: String*): Unit = {
      val p = in.resolve(s"pods/default_${pod}_u/app/0.log")
      Files.createDirectories(p.getParent)
      Files.writeString(p, lines.mkString("", "\n", "\n"))
    }
    put("pod-a", "2024-01-15T10:00:00.000000001Z stdout F one",
      "2024-01-15T10:00:00.000000002Z stderr F two")
    // bootstrap: first batch lands before the view exists (a view needs a
    // schema-bearing store), then the sink RESTARTS with live refresh —
    // the realistic create-dashboard-on-a-running-ingest sequence
    val glob = in.toString + "/pods/*/*/*.log"
    val ckpt = work.resolve("ckpt").toString
    val q0 = LogStreamIngest.startStoreSink(spark, glob, root, ckpt,
      clusterName = "dev", triggerInterval = "1 seconds")
    try q0.processAllAvailable() finally q0.stop()
    MatView.create(spark, root, viewDir, keys = Seq("stream"),
      sums = Seq("sum_chars" -> "cast(length(message) as long)"))
    val v1 = MatView.readView(spark, viewDir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(v1 == Map("stdout" -> ((1L, 3L)), "stderr" -> ((1L, 3L))), s"view=$v1")

    put("pod-b", "2024-01-15T10:00:01.000000003Z stdout F four!")
    val q = LogStreamIngest.startStoreSink(spark, glob, root, ckpt,
      clusterName = "dev", triggerInterval = "1 seconds",
      refreshViews = Seq(viewDir))
    try {
      q.processAllAvailable()
      val v2 = MatView.readView(spark, viewDir).collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(v2 == Map("stdout" -> ((2L, 8L)), "stderr" -> ((1L, 3L))), s"view=$v2")
    } finally q.stop()
  }

  test("store sink: batches commit through the store protocol; maintenance runs LIVE") {
    val work = Files.createTempDirectory("graft-streamstore")
    val in = work.resolve("varlog")
    val root = work.resolve("lake").toString
    val ckpt = work.resolve("ckpt")
    def put(pod: String, lines: String*): Unit = {
      val p = in.resolve(s"pods/default_${pod}_u/app/0.log")
      Files.createDirectories(p.getParent)
      Files.writeString(p, lines.mkString("", "\n", "\n"))
    }
    put("pod-a", "2024-01-15T10:00:00.000000001Z stdout F one",
      "2024-01-15T10:00:00.000000002Z stdout F two")
    val q = LogStreamIngest.startStoreSink(spark, in.toString + "/pods/*/*/*.log",
      root, ckpt.toString, clusterName = "dev", triggerInterval = "1 seconds")
    try {
      q.processAllAvailable()
      // the sink produced an ORDINARY versioned store: no _spark_metadata
      // commit log anywhere, version bumped by the batch commit
      assert(GraftStore.isPointerStore(spark, root))
      assert(Seq(root, GraftStore.resolve(spark, root))
        .forall(d => !Files.exists(java.nio.file.Paths.get(d, "_spark_metadata"))))
      assert(GraftStore.readStore(spark, root).count() == 2)
      val vAfterB0 = GraftStore.currentVersion(spark, root)
      assert(vAfterB0 >= 2, "first batch must commit a version, not write v1 in place")
      // second batch appends atomically on top
      put("pod-b", "2024-01-15T10:00:01.000000003Z stderr F three")
      q.processAllAvailable()
      assert(GraftStore.readStore(spark, root).count() == 3)
      assert(GraftStore.currentVersion(spark, root) > vAfterB0)
      // LIVE maintenance: compaction commits against the running ingest with
      // the store lease serializes this commit with the sink's publishes
      Compaction.compactHive(spark, root)
      assert(GraftStore.readStore(spark, root).count() == 3)
      // and the stream keeps committing after the maintenance commit
      put("pod-c", "2024-01-15T10:00:02.000000004Z stdout F four")
      q.processAllAvailable()
      assert(GraftStore.readStore(spark, root).count() == 4)
      assert(GraftStore.readStore(spark, root).select("pod").distinct().count() == 3)
    } finally q.stop()
    // time travel across micro-batch commits: every retained version opens
    val vs = GraftStore.listVersions(spark, root)
    vs.filter(_ >= 2).foreach { v =>
      assert(GraftStore.readVersion(spark, root, v).count() > 0)
    }
  }

  test("store sink drops the lines of a fluent-bit decoy pod") {
    val work = Files.createTempDirectory("graft-streamexcl")
    val in = work.resolve("varlog")
    val root = work.resolve("lake").toString
    def put(rel: String, line: String): Unit = {
      val p = in.resolve(rel)
      Files.createDirectories(p.getParent)
      Files.writeString(p, line + "\n")
    }
    put("pods/default_pod-a_u1/app/0.log", "2024-01-15T10:00:00.000000001Z stdout F kept")
    // fluent-bit only in the container name: not a decoy, kept
    put("pods/default_pod-b_u2/fluent-bit/0.log", "2024-01-15T10:00:00.000000002Z stdout F kept too")
    put("pods/kube-system_fluent-bit-x_u3/fluent-bit/0.log",
      "2024-01-15T10:00:00.000000003Z stdout F must-be-excluded")
    val q = LogStreamIngest.startStoreSink(spark, in.toString + "/pods/*/*/*.log",
      root, work.resolve("ckpt").toString, clusterName = "dev",
      triggerInterval = "1 seconds")
    try q.processAllAvailable() finally q.stop()
    val got = GraftStore.readStore(spark, root).select($"message", $"pod").as[(String, String)]
      .collect().toSet
    assert(got == Set("kept" -> "pod-a", "kept too" -> "pod-b"))
  }

  test("a store-sink trigger over more than 32 CRI files runs one Spark job per batch") {
    val work = Files.createTempDirectory("graft-streamjobs")
    val in = work.resolve("varlog")
    val root = work.resolve("lake").toString
    // each file lands whole (written aside, then renamed in), so a trigger
    // never reads a half-written file
    def put(batch: Int, pods: Int): Unit = (0 until pods).foreach { i =>
      val p = in.resolve(s"pods/ns${i % 4}_pod-${i}_u$i/app/$batch.log")
      Files.createDirectories(p.getParent)
      val tmp = Files.writeString(work.resolve("tmp.log"),
        s"2024-01-15T10:00:0$batch.00000000${i % 10}Z stdout F b$batch line $i\n")
      Files.move(tmp, p, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
    put(0, 40)
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    val marker = s"marker-${java.util.UUID.randomUUID()}"
    val flushed = new java.util.concurrent.CountDownLatch(1)
    // the stream thread tags every job it starts with its query id
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val props = Option(e.properties)
        if (props.exists(_.getProperty("spark.jobGroup.id") == marker)) flushed.countDown()
        props.flatMap(p => Option(p.getProperty("sql.streaming.queryId")))
          .foreach(id => jobs.put(e.jobId, id))
      }
    }
    sc.addSparkListener(listener)
    val q = try {
      val q = LogStreamIngest.startStoreSink(spark, in.toString + "/pods/*/*/*.log",
        root, work.resolve("ckpt").toString, clusterName = "dev",
        triggerInterval = "1 seconds", partitionCols = Seq("cluster", "namespace", "date"))
      try {
        q.processAllAvailable()
        put(1, 40)
        q.processAllAvailable()
      } finally q.stop()
      // a marker job submitted after the stream stopped flushes the
      // listener bus: one bus queue delivers job starts in order
      sc.setJobGroup(marker, "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(flushed.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "listener bus did not deliver the marker job")
      q
    } finally sc.removeSparkListener(listener)
    assert(GraftStore.readStore(spark, root).count() == 80)
    val batches = q.recentProgress.count(_.numInputRows > 0)
    assert(batches >= 2)
    // the staging write only: the tail listings run on the driver, and the
    // commit's stats come from its one footer pass on the driver
    val ofQuery = jobs.values.toArray.count(_ == q.id.toString)
    assert(ofQuery == batches, s"$ofQuery jobs for $batches non-empty batches")
  }

  test("upsert sink: each micro-batch merges atomically; later batches supersede keys") {
    import spark.implicits._
    val work = Files.createTempDirectory("graft-upsink")
    val updDir = work.resolve("updates"); Files.createDirectories(updDir)
    val root = work.resolve("store").toString
    val ckpt = work.resolve("ckpt").toString
    def putBatch(name: String, rows: Seq[(Long, String)]): Unit = {
      val tmp = work.resolve("tmp-" + name)
      rows.toDF("k", "v")
        .withColumn("date", org.apache.spark.sql.functions.lit("2024-01-15"))
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val src = {
        val s = Files.list(tmp)
        try s.filter(p => p.toString.endsWith(".parquet")).findFirst().get()
        finally s.close()
      }
      Files.move(src, updDir.resolve(name + ".parquet"))
    }
    putBatch("b0", Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")))
    val updates = spark.readStream.schema("k LONG, v STRING, date STRING")
      .parquet(updDir.toString)
    val q = LogStreamIngest.startUpsertSink(updates, root, ckpt,
      keyCols = Seq("k"), partitionCols = Seq("date"),
      triggerInterval = "1 seconds")
    try {
      q.processAllAvailable()
      assert(GraftStore.readStore(spark, root).count() == 4)
      // batch 2 supersedes keys 2 and 3 (deletion vector, zero rewrite of
      // batch 1's files) and inserts key 5 — one atomic commit
      putBatch("b1", Seq((2L, "B2"), (3L, "C2"), (5L, "e")))
      q.processAllAvailable()
      val live = GraftStore.readStore(spark, root)
      assert(live.count() == 5)
      val byKey = live.select($"k", $"v").as[(Long, String)].collect().toMap
      assert(byKey == Map(1L -> "a", 2L -> "B2", 3L -> "C2", 4L -> "d", 5L -> "e"))
      // the supersede left a vector on batch 1's file, pending materialization
      assert(DeleteVectors.read(spark, GraftStore.resolve(spark, root)).nonEmpty)
    } finally q.stop()
  }

  test("close-write side channel emits PodClosed after idle timeout (K5 wired)") {
    val work = Files.createTempDirectory("graft-stream3")
    val in = work.resolve("varlog")
    val p = in.resolve("pods/default_pod-c_u/app")
    Files.createDirectories(p)
    Files.writeString(p.resolve("0.log"),
      "2024-01-15T10:00:00.000000001Z stdout F line one\n" +
        "2024-01-15T10:00:00.000000002Z stdout F line two\n")
    val closeRoot = work.resolve("close").toString
    val (main, closeQ) = LogStreamIngest.startWithCloseEvents(spark,
      in.toString + "/pods/*/*/*.log", work.resolve("lake").toString,
      closeRoot, work.resolve("ckpt").toString, clusterName = "dev",
      triggerInterval = "1 seconds", idleTimeout = "1 seconds")
    try {
      main.processAllAvailable()
      assert(GraftStore.readStore(spark, work.resolve("lake").toString).count() == 2)
      // processing-time timeouts fire on subsequent (empty) micro-batches —
      // poll the side sink until the close event lands
      val deadline = System.nanoTime() + 60L * 1000000000L
      def closed() =
        try spark.read.parquet(closeRoot).collect() catch { case _: Exception => Array.empty[org.apache.spark.sql.Row] }
      while (closed().isEmpty && System.nanoTime() < deadline) Thread.sleep(500)
      val events = closed()
      assert(events.nonEmpty, "no PodClosed event within 60s of idle")
      val e = events.head
      assert(e.getAs[String]("pod") == "pod-c" && e.getAs[String]("container") == "app")
      assert(e.getAs[Long]("lines") == 2L)
      assert(e.getAs[Long]("first_ns") == 1705312800000000001L)
      assert(e.getAs[Long]("last_ns") == 1705312800000000002L)
    } finally { main.stop(); closeQ.stop() }
  }

  test("dual-format streaming sink writes parquet AND arrow per batch (K2)") {
    val work = Files.createTempDirectory("graft-stream2")
    val in = work.resolve("varlog")
    val p = in.resolve("pods/default_pod-x_u/app")
    Files.createDirectories(p)
    Files.writeString(p.resolve("0.log"),
      "2024-01-15T10:00:00.000000001Z stdout F dual format line\n")
    val q = LogStreamIngest.startDualFormat(spark, in.toString + "/pods/*/*/*.log",
      work.resolve("lake").toString, work.resolve("ckpt").toString,
      clusterName = "dev", triggerInterval = "1 seconds")
    try q.processAllAvailable() finally q.stop()
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    val files = walk(work.resolve("lake").toFile).map(_.getName)
    assert(files.exists(_.endsWith(".parquet")) && files.exists(_.endsWith(".arrow")))
    // both formats readable and in agreement
    val fromArrow = graft.logs.LogQuery(output = graft.logs.LogOutput.Raw,
      format = graft.logs.LogFormat.Arrow).dataFrame(spark, work.resolve("lake").toString)
    assert(fromArrow.select("message").as[String].collect().toSeq == Seq("dual format line"))
  }
}
