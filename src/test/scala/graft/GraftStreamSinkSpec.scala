package graft

import graft.logs._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import java.nio.file.Files

/** `df.writeStream.format("graft")` ([[graft.streaming.GraftStreamSink]]):
  * every micro-batch is an atomic store commit, replay-deduplicated by
  * (checkpoint-derived sink id, batch id).
  */
class GraftStreamSinkSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(tag: String) =
    Files.createTempDirectory(s"graft-sink-$tag")

  private def docs(rows: (Long, String, String)*) =
    rows.toSeq.toDF("doc_id", "text", "lang")

  test("micro-batches commit atomically and read back through the connector") {
    val w = tmp("rt")
    val root = w.resolve("store").toString
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[
      (Long, String, String)]
    val q = stream.toDF().toDF("doc_id", "text", "lang")
      .writeStream.format("graft")
      .option("checkpointLocation", w.resolve("ckpt").toString)
      .option("partitionColumns", "lang")
      .trigger(Trigger.ProcessingTime(50))
      .start(root)
    try {
      stream.addData(Seq((1L, "a", "en"), (2L, "b", "en")))
      q.processAllAvailable()
      val v1 = GraftStore.liveVersionOf(spark, root)
      assert(spark.read.format("graft").load(root).count() == 2)
      stream.addData(Seq((3L, "c", "fr")))
      q.processAllAvailable()
      assert(GraftStore.liveVersionOf(spark, root) > v1)
    } finally q.stop()
    val got = spark.read.format("graft").load(root)
    assert(got.select($"doc_id", $"text", $"lang").as[(Long, String, String)]
      .collect().sorted.toSeq ==
      Seq((1L, "a", "en"), (2L, "b", "en"), (3L, "c", "fr")))
    // partitionColumns landed as real hive dirs (pruned reads work)
    assert(got.inputFiles.exists(_.contains("lang=en")) &&
      got.inputFiles.exists(_.contains("lang=fr")))
  }

  test("exactly-once across restarts: a re-run checkpoint never doubles rows") {
    val w = tmp("once")
    val root = w.resolve("store").toString
    val ckpt = w.resolve("ckpt").toString
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[
      (Long, String, String)]
    def run(): Unit = {
      val q = stream.toDF().toDF("doc_id", "text", "lang")
        .writeStream.format("graft")
        .option("checkpointLocation", ckpt)
        .option("partitionColumns", "lang")
        .trigger(Trigger.ProcessingTime(50))
        .start(root)
      try q.processAllAvailable() finally q.stop()
    }
    stream.addData(Seq((1L, "a", "en"), (2L, "b", "en")))
    run()
    assert(GraftStore.readStore(spark, root).count() == 2)
    // second incarnation of the same checkpoint: nothing new → nothing doubles
    run()
    assert(GraftStore.readStore(spark, root).count() == 2)
    stream.addData(Seq((3L, "c", "en")))
    run()
    assert(GraftStore.readStore(spark, root).count() == 3)
    // the protocol-level guard the restarts lean on: a replayed (sink,batch)
    // commit id no-ops even if addBatch itself is re-entered
    val v = GraftStore.liveVersionOf(spark, root)
    AppendCommit.commit(docs((9L, "dup", "en")), root, Seq("lang"),
      commitId = Some("probe-1"))
    AppendCommit.commit(docs((9L, "dup", "en")), root, Seq("lang"),
      commitId = Some("probe-1"))
    assert(GraftStore.readStore(spark, root).count() == 4)
    assert(GraftStore.liveVersionOf(spark, root) == v + 1)
  }

  test("sink id resolves conf + queryName: a crash-replayed batch commits once") {
    // Spark resolves a durable checkpoint from
    // spark.sql.streaming.checkpointLocation + queryName AFTER sink
    // creation — the sink must mirror that resolution, or every restart
    // mints a fresh random sink id and a crash-replayed micro-batch
    // commits twice
    val w = tmp("confck")
    val root = w.resolve("store").toString
    // Spark calls addBatch with frames of a per-query stream-session clone;
    // calling it directly runs on a clone too, so the sink's micro-batch
    // settings (AQE off) never reach the shared session of later suites
    ConfScope.withSessionConf(spark,
      "spark.sql.streaming.checkpointLocation" -> w.resolve("ckroot").toString) { s =>
      val provider = new graft.sources.GraftSourceProvider
      def mkSink(name: String) = provider.createSink(s.sqlContext,
        Map("path" -> root, "queryName" -> name), Seq("lang"),
        org.apache.spark.sql.streaming.OutputMode.Append())
      def batch(rows: (Long, String, String)*) =
        s.createDataFrame(rows).toDF("doc_id", "text", "lang")
      mkSink("confq").addBatch(0L, batch((1L, "a", "en")))
      assert(GraftStore.readStore(spark, root).count() == 1)
      // a NEW sink instance (the restart) replaying batch 0 must no-op
      mkSink("confq").addBatch(0L, batch((1L, "a", "en")))
      assert(GraftStore.readStore(spark, root).count() == 1,
        "replayed batch under a conf-resolved checkpoint must not double")
      // a different queryName is a different lineage: its batch 0 commits
      mkSink("otherq").addBatch(0L, batch((2L, "b", "en")))
      assert(GraftStore.readStore(spark, root).count() == 2)
    }
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true",
      "the sink's micro-batch settings leaked into the shared session")
  }

  test("deleted store re-created at the same path starts with a clean ledger") {
    val w = tmp("ledger")
    val root = w.resolve("store").toString
    LogIngest.ensureStore(spark, root)
    AppendCommit.commit(docs((1L, "a", "en")), root, Seq("lang"),
      commitId = Some("replay-probe"))
    assert(GraftStore.readStore(spark, root).count() == 1)
    // wipe the store the way an operator would — the root dir, ledger
    // included
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
    // fresh store at the same path: no stale ledger may resurrect — else
    // this commit is silently dropped as a replay of the dead store's
    // transaction
    LogIngest.ensureStore(spark, root)
    val committed = AppendCommit.commit(docs((2L, "b", "en")), root,
      Seq("lang"), commitId = Some("replay-probe"))
    assert(!committed.replayed,
      "fresh store must not treat its first commit as a replay")
    assert(GraftStore.readStore(spark, root).select($"doc_id")
      .as[Long].collect().toSeq == Seq(2L))
  }

  test("store-to-store: readStream tail feeds a writeStream sink — the durable bus") {
    val w = tmp("bus")
    val src = w.resolve("src").toString
    val dst = w.resolve("dst").toString
    val df = docs((1L, "alpha", "en"), (2L, "beta", "fr"), (3L, "gamma", "en"))
    LogIngest.ensureStore(spark, src)
    AppendCommit.commit(df, src, Seq("lang"), commitId = Some("bus-0"))
    // bootstrap tail of the source store, committed into the sink store
    val q = spark.readStream.format("graft")
      .option("startingVersion", "0").load(src)
      .withColumn("text", upper($"text"))
      .writeStream.format("graft")
      .option("checkpointLocation", w.resolve("ckpt").toString)
      .option("partitionColumns", "lang")
      .trigger(Trigger.ProcessingTime(50))
      .start(dst)
    try {
      q.processAllAvailable()
      assert(GraftStore.readStore(spark, dst).count() == 3)
      // a mid-stream commit to the source flows through to the sink store
      AppendCommit.commit(docs((4L, "delta", "fr")), src, Seq("lang"),
        commitId = Some("bus-1"), retainSnapshots = 3)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.read.format("graft").load(dst)
      .select($"doc_id", $"text").as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "ALPHA", 2L -> "BETA", 3L -> "GAMMA", 4L -> "DELTA"))
  }

  test("refreshViews: a materialized view catches up inside each micro-batch") {
    val w = tmp("ivm")
    val root = w.resolve("store").toString
    val view = w.resolve("view").toString
    LogIngest.ensureStore(spark, root)
    AppendCommit.commit(docs((1L, "a", "en")), root, Seq("lang"),
      commitId = Some("ivm-0"))
    MatView.create(spark, root, view, keys = Seq("lang"), sums = Seq.empty)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[
      (Long, String, String)]
    val q = stream.toDF().toDF("doc_id", "text", "lang")
      .writeStream.format("graft")
      .option("checkpointLocation", w.resolve("ckpt").toString)
      .option("partitionColumns", "lang")
      .option("refreshViews", view)
      .trigger(Trigger.ProcessingTime(50))
      .start(root)
    try {
      stream.addData(Seq((2L, "b", "en"), (3L, "c", "fr")))
      q.processAllAvailable()
    } finally q.stop()
    val got = MatView.readView(spark, view)
      .select($"lang", $"n_rows").as[(String, Long)].collect().toMap
    assert(got == Map("en" -> 2L, "fr" -> 1L))
  }

  test("output mode validation: only append commits") {
    val w = tmp("mode")
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[
      (Long, String, String)]
    val err = intercept[Exception] {
      stream.toDF().toDF("doc_id", "text", "lang")
        .groupBy($"lang").count()
        .writeStream.format("graft")
        .outputMode("complete")
        .option("checkpointLocation", w.resolve("ckpt").toString)
        .start(w.resolve("store").toString)
    }
    assert(err.getMessage.toLowerCase.contains("append"))
  }
}
