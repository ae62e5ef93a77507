package graft

import graft.logs._
import org.apache.spark.sql.functions._
import java.nio.file.Files
import java.util.concurrent.CountDownLatch

/** [[ConfScope.withSessionConf]] — session-scoped conf overrides on a
  * CLONED session, replacing the save/set/restore idiom whose shared-session
  * flips broke the round-14 concurrent bench (a compaction's
  * partitionColumnTypeInference flip disabled the metadata-only planner
  * tier for an unrelated in-flight query; the non-reentrant restore then
  * made the flip permanent). The regression shapes proved here:
  *
  *   - the parent session's conf is NEVER touched, under nesting and
  *     concurrency;
  *   - clones keep the engine's session-state extensions (SQL functions,
  *     the metadata-aggregate rule);
  *   - a `format("graft")` DV-tier metadata-only COUNT stays readless even
  *     with `partitionColumnTypeInference.enabled=false` session-wide (the
  *     read path pins partition types from the manifest, conf-independent);
  *   - the x11∥x26 shape: a compaction frozen MID-COMMIT while the main
  *     thread runs metadata-only reads on another store — readless must
  *     hold throughout and the shared conf must come out untouched;
  *   - [[GraftSession.configure]] sets a session up once: a bare
  *     `newSession()` gets the engine state from its first `Tables` load,
  *     and later loads leave the session's confs alone.
  */
class ConfScopeSpec extends SparkSpec {
  import spark.implicits._

  private val inferKey = "spark.sql.sources.partitionColumnTypeInference.enabled"
  private val parts = Seq("cluster", "namespace", "date")

  private def fixture() = Tables.events(spark, sf)
    .select(
      CriFunctions.nanosToTimestamp($"ts").as("time"),
      $"ts".as("time_ns"), lit("stdout").as("stream"), lit("F").as("logtag"),
      $"props".as("message"), lit("dev").as("cluster"),
      lit("ns0").as("namespace"), lit("n1").as("node"),
      lit("p1").as("pod"), lit("app").as("container"))
    .withColumn("date", date_format($"time", "yyyy-MM-dd"))

  private def newRoot(tag: String): String =
    Files.createTempDirectory(s"graft-confscope-$tag").resolve("store").toString

  /** A versioned store carrying LIVE deletion vectors, plus the expected
    * live row count.
    */
  private def dvStore(tag: String): (String, Long) = {
    val root = newRoot(tag)
    val df = fixture()
    LogIngest.writeHive(df, root, partitionCols = parts)
    val pred = (($"time_ns" / 1000).cast("long") % 97) < 13
    val c = DeleteVectors.deleteWhere(spark, root, pred,
      commitId = Some(s"confscope-$tag"), maxRanges = Int.MaxValue,
      materializeOverCap = false)
    assert(!c.materialized && c.deletedRows > 0)
    (root, df.count() - c.deletedRows)
  }

  test("overrides land on the clone only; parent conf untouched; nesting safe") {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val parentBefore = spark.conf.get(key)
    ConfScope.withSessionConf(spark, key -> "-1") { s =>
      assert(s.conf.get(key) == "-1")
      assert(spark.conf.get(key) == parentBefore, "parent must not see the override")
      // nested scope on the CLONE: inherits the clone's conf, adds its own
      ConfScope.withSessionConf(s, inferKey -> "false") { s2 =>
        assert(s2.conf.get(key) == "-1", "nested clone inherits outer override")
        assert(s2.conf.get(inferKey) == "false")
        assert(s.conf.get(inferKey, "true") == "true")
      }
      assert(s.conf.get(key) == "-1")
    }
    assert(spark.conf.get(key) == parentBefore, "no restore needed, none happened")
  }

  test("clones keep the engine extensions: SQL functions and the metadata rule") {
    ConfScope.withSessionConf(spark, inferKey -> "false") { s =>
      // function registry is session state — a bare newSession would lose it
      assert(s.sql("SELECT poly_hash64('abc') AS h").head().getLong(0) ==
        spark.sql("SELECT poly_hash64('abc') AS h").head().getLong(0))
      assert(s.experimental.extraOptimizations
        .contains(graft.plans.GraftMetadataAggregate),
        "clone must carry the metadata-aggregate rule")
    }
  }

  test("concurrent scopes never bleed into the parent or each other") {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val parentBefore = spark.conf.get(key)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until 8).map { i =>
      new Thread(() => {
        try ConfScope.withSessionConf(spark, key -> s"${1000 + i}") { s =>
          Thread.sleep(20)
          assert(s.conf.get(key) == s"${1000 + i}", s"clone $i sees its own value")
          assert(spark.conf.get(key) == parentBefore)
        } catch { case t: Throwable => errs.add(t) }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errs.isEmpty, s"concurrent scope errors: ${errs.size}: ${errs.peek()}")
    assert(spark.conf.get(key) == parentBefore,
      "8 concurrent scopes finished; parent conf must be byte-identical")
  }

  test("DV metadata-only COUNT stays readless with partition inference disabled session-wide") {
    val (root, live) = dvStore("infoff")
    ConfScope.withSessionConf(spark, inferKey -> "false") { s =>
      val t = s.read.format("graft").load(root)
      val total = t.groupBy().count()
      assert(graft.plans.PlanScans.readless(total),
        "graft partition types are manifest-pinned — the session's inference " +
          "conf must not break the metadata-only tier")
      assert(total.as[Long](org.apache.spark.sql.Encoders.scalaLong).head() == live)
      // partition-grouped under a partition filter, still zero-I/O
      val grouped = t.filter(col("date") >= "1970-01-01").groupBy(col("date"))
        .agg(count(lit(1)).as("n"))
      assert(graft.plans.PlanScans.readless(grouped))
    }
  }

  test("deleteWhere evaluates partition predicates manifest-typed even with inference disabled") {
    val root = newRoot("delinfer")
    // two int-like partition values, 9 and 10: lexicographic (string)
    // comparison inverts their order ("9" >= "10"), typed comparison does not
    val df = fixture().withColumn("hour",
      when(crc32($"message") % 2 === 0, lit("9")).otherwise(lit("10")))
    val parts9 = Seq("cluster", "namespace", "hour")
    LogIngest.writeHive(df, root, partitionCols = parts9)
    val n9 = df.filter($"hour" === "9").count()
    val n10 = df.filter($"hour" === "10").count()
    // a session with inference DISABLED issues the delete: the matched-row
    // scan must still see hour as int (manifest-typed), so `hour >= "10"`
    // strikes ONLY hour=10 — lexicographic evaluation would strike both
    val c = ConfScope.withSessionConf(spark, inferKey -> "false") { s =>
      DeleteVectors.deleteWhere(s, root, col("hour") >= "10",
        commitId = Some("confscope-delinfer"))
    }
    assert(c.deletedRows == n10,
      s"must delete exactly the hour=10 rows ($n10), got ${c.deletedRows}")
    assert(spark.read.format("graft").load(root).count() == n9)
  }

  test("x11-parallel-x26 shape: compaction mid-commit never degrades a concurrent metadata-only read") {
    val (dvRoot, live) = dvStore("par")
    // a second, append-heavy store for the compactor (full rewrite each run)
    val compactRoot = newRoot("parc")
    val df = fixture()
    LogIngest.writeHive(df, compactRoot, partitionCols = parts)

    val inCommit = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val compactErr = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    Compaction.onBeforeCommit = () => {
      inCommit.countDown()
      release.await()
    }
    val compactor = new Thread(() => {
      try Compaction.compactHive(spark, compactRoot, partitionCols = parts,
        full = true)
      catch { case t: Throwable => compactErr.set(t) }
    })
    try {
      val parentInfer = spark.conf.get(inferKey, "true")
      compactor.start()
      inCommit.await() // compaction is mid-flight, staging verified
      // the r14 failure: this exact read lost its metadata-only path because
      // the compactor had flipped the SHARED session's inference conf
      (1 to 3).foreach { _ =>
        val t = spark.read.format("graft").load(dvRoot)
        val total = t.groupBy().count()
        assert(graft.plans.PlanScans.readless(total),
          "metadata-only COUNT must survive a concurrent compaction")
        assert(total.as[Long](org.apache.spark.sql.Encoders.scalaLong).head() == live)
      }
      assert(spark.conf.get(inferKey, "true") == parentInfer,
        "the shared session's conf must be untouched while compaction runs")
    } finally {
      release.countDown()
      compactor.join()
      Compaction.onBeforeCommit = () => ()
    }
    assert(compactErr.get() == null, s"compaction failed: ${compactErr.get()}")
    assert(spark.conf.get(inferKey, "true") == "true",
      "no restore ran, because nothing was ever flipped on the shared session")
  }

  test("configure runs once per session: a fresh session is set up by its first Tables load, later loads keep its confs") {
    val skew = "spark.sql.adaptive.skewJoin.enabled"
    val rules = Seq(graft.plans.GraftMetadataAggregate, graft.plans.PlanRewrites,
      graft.plans.SmallScanSort)
    val fresh = spark.newSession()
    assert(!rules.exists(fresh.experimental.extraOptimizations.contains),
      "a bare newSession starts without the engine's session state")
    Tables.table(fresh, sf, "nation")
    val reg = fresh.sessionState.functionRegistry
    GraftExtensions.functions.foreach { case (name, _) =>
      assert(reg.functionExists(
        org.apache.spark.sql.catalyst.FunctionIdentifier(name)), name)
    }
    rules.foreach(r => assert(fresh.experimental.extraOptimizations.contains(r), r))
    assert(fresh.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(fresh.conf.get("spark.sql.parquet.outputTimestampType") == "TIMESTAMP_MICROS")
    assert(fresh.conf.get(skew) == "true")

    // a tuning change on the session survives every later load
    fresh.conf.set(skew, "false")
    Tables.table(fresh, sf, "region")
    Tables.events(fresh, sf)
    assert(fresh.conf.get(skew) == "false", "a Tables load must not reset session confs")

    // a scoped clone keeps the session's change and its own override, and
    // plans with the engine rules: a store COUNT answers from metadata
    val root = newRoot("once")
    LogIngest.writeHive(fixture().limit(500), root, partitionCols = parts)
    val key = "spark.sql.autoBroadcastJoinThreshold"
    ConfScope.withSessionConf(fresh, key -> "-1") { s =>
      Tables.table(s, sf, "nation")
      assert(s.conf.get(skew) == "false")
      assert(s.conf.get(key) == "-1")
      val total = s.read.format("graft").load(root).groupBy().count()
      assert(graft.plans.PlanScans.readless(total))
      assert(total.as[Long](org.apache.spark.sql.Encoders.scalaLong).head() == 500L)
    }

    val p2 = SparkEntry.queries("p2_since_time_filter")
    def rows(s: org.apache.spark.sql.SparkSession) =
      p2(s, sf).collect().map(_.toString).toSeq
    assert(rows(fresh).nonEmpty)
    assert(rows(fresh) == rows(spark))
  }
}
