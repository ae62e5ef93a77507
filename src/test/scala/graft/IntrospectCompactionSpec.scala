package graft

import graft.logs.{Compaction, GraftStore, Introspect, LogSchema}
import graft.streaming.StreamAnalytics
import org.apache.spark.sql.functions._
import java.nio.file.Files

class IntrospectCompactionSpec extends SparkSpec {
  import spark.implicits._

  test("M2: parquet physical metadata surfaces encodings/codec/sizes") {
    val meta = Introspect.parquetColumnMetadata(spark, s"$sf/lineitem.parquet")
    assert(meta.count() > 0)
    val flag = meta.filter($"column" === "l_returnflag").collect().head
    assert(flag.getAs[String]("encodings").contains("DICTIONARY"))
    assert(flag.getAs[Long]("num_values") > 0)
    assert(flag.getAs[Long]("compressed_bytes") > 0)
    // events carries a timestamp logical type; the generator has written both
    // TIMESTAMP(NANOS) and TIMESTAMP(MICROS) over time, so accept either —
    // engine-written time_ns stores stay int64 and are asserted strictly in
    // the store specs.
    val ev = Introspect.parquetColumnMetadata(spark, s"$sf/events.parquet")
      .filter($"column" === "ts").collect().head
    val lt = ev.getAs[String]("logical_type").toLowerCase
    assert(lt.contains("nanos") || lt.contains("micros") || lt.contains("timestamp"))
  }

  test("compaction rewrites small files into few, data intact") {
    val root = Files.createTempDirectory("graft-compact").resolve("store").toString
    val parts = Seq("cluster", "namespace", "date") // date granularity: 31 dirs
    val df = Tables.events(spark, sf)
      .select(
        graft.logs.CriFunctions.nanosToTimestamp($"ts").as("time"),
        $"ts".as("time_ns"),
        lit("stdout").as("stream"), lit("F").as("logtag"),
        $"props".as("message"), lit("dev").as("cluster"),
        lit("ns0").as("namespace"), lit("n1").as("node"),
        lit("p1").as("pod"), lit("app").as("container"))
      .withColumn("date", date_format($"time", "yyyy-MM-dd"))
      .withColumn("hour", date_format($"time", "HH"))
    // force a small-files mess: every writer task hits every date-dir
    GraftStore.init(spark, root)
    appendRaw(df.repartition(8), root, parts, maxRecordsPerFile = 10)
    def liveFiles =
      GraftStore.compositeEntries(spark, root, GraftStore.currentVersion(spark, root)).size
    val before = liveFiles
    val rowsBefore = GraftStore.readStore(spark, root).count()
    Compaction.compactHive(spark, root, partitionCols = parts)
    val after = liveFiles
    assert(after < before / 4, s"files $before -> $after")
    assert(after <= 31) // one file per date partition
    assert(GraftStore.readStore(spark, root).count() == rowsBefore)
    assert(GraftStore.readStore(spark, root).agg(sum(crc32($"message".cast("binary")))).head ==
      df.agg(sum(crc32($"message".cast("binary")))).head)
  }

  test("snapshot diff audits a compaction: files swap, row delta is zero") {
    val root = Files.createTempDirectory("graft-diff").resolve("store").toString
    val parts = Seq("cluster", "namespace", "date")
    val df = Tables.events(spark, sf)
      .select(
        graft.logs.CriFunctions.nanosToTimestamp($"ts").as("time"),
        $"ts".as("time_ns"),
        lit("stdout").as("stream"), lit("F").as("logtag"),
        $"props".as("message"), lit("dev").as("cluster"),
        lit("ns0").as("namespace"), lit("n1").as("node"),
        lit("p1").as("pod"), lit("app").as("container"))
      .withColumn("date", date_format($"time", "yyyy-MM-dd"))
    // versioned store with a small-files mess (~10-row files per date dir)
    graft.logs.LogIngest.writeHive(df.repartition(4), root,
      maxRecordsPerFile = 10L, partitionCols = parts)
    graft.logs.Compaction.compactHive(spark, root, partitionCols = parts)
    val versions = graft.logs.GraftStore.snapshots(spark, root).map(_.version)
    assert(versions.size >= 2, s"expected a grace snapshot, got $versions")
    val d = graft.logs.GraftStore.diffVersions(spark, root,
      versions.min, versions.max)
    assert(d.rowDelta == 0L, s"compaction changed row count: $d")
    assert(d.added.nonEmpty && d.removed.nonEmpty,
      s"compaction should rewrite files: $d")
    assert(d.removed.size > d.added.size,
      s"compaction should shrink the file count: +${d.added.size} -${d.removed.size}")
  }

  test("compaction keeps the live root and every partition visible to concurrent readers") {
    val root = Files.createTempDirectory("graft-compact3").resolve("store").toString
    val parts = Seq("cluster", "namespace", "date")
    val df = Tables.events(spark, sf)
      .select(
        graft.logs.CriFunctions.nanosToTimestamp($"ts").as("time"),
        $"ts".as("time_ns"), lit("stdout").as("stream"), lit("F").as("logtag"),
        $"props".as("message"), lit("dev").as("cluster"),
        lit("ns0").as("namespace"), lit("n1").as("node"),
        lit("p1").as("pod"), lit("app").as("container"))
      .withColumn("date", date_format($"time", "yyyy-MM-dd"))
      .withColumn("hour", date_format($"time", "HH"))
    // engine-created store: the compaction swap is one atomic pointer
    // write (GraftStore) — zero visibility window
    GraftStore.init(spark, root)
    appendRaw(df.repartition(8), root, parts, maxRecordsPerFile = 10)
    // the date partitions a reader resolving the live snapshot sees
    def liveDates(): Set[String] =
      GraftStore.compositeEntries(spark, root, GraftStore.currentVersion(spark, root))
        .flatMap(_.key.split('/').find(_.startsWith("date="))).toSet
    val dateDirs = liveDates()
    assert(dateDirs.size > 10)
    // Hammer the snapshot resolution while compaction runs, NO grace and no
    // recheck: the root must exist, the pointer must be readable and the
    // date partition set complete at every single sample. The old
    // dynamic-overwrite swap had a per-partition delete+rename window
    // inside job commit that this caught under load; a truncating pointer
    // write has a window where `_current` reads empty; the atomic pointer
    // flip has no window at all.
    @volatile var stop = false
    val violations = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val reader = new Thread(() => {
      while (!stop) {
        if (!new java.io.File(root).exists()) violations.add("live root missing")
        val seen =
          try liveDates()
          catch { case e: Exception => violations.add(s"snapshot unreadable: $e"); dateDirs }
        if (seen != dateDirs)
          violations.add(s"partitions missing: ${(dateDirs -- seen).mkString(",")}")
      }
    })
    reader.start()
    try Compaction.compactHive(spark, root, partitionCols = parts)
    finally { stop = true; reader.join() }
    assert(violations.isEmpty, s"concurrent reader saw: ${violations.toArray.mkString("; ")}")
    assert(GraftStore.readStore(spark, root).count() == df.count())
    // the swap really happened: pointer moved on; the replaced version is
    // kept as a grace snapshot for in-flight readers (reclaimed next commit)
    assert(GraftStore.currentVersion(spark, root) == 2)
    assert(GraftStore.listVersions(spark, root) == Seq(1, 2))
    // snapshot read (time travel): the grace version serves the
    // pre-compaction small-file view with identical rows
    val snap = graft.logs.GraftStore.resolveVersion(spark, root, 1)
    assert(spark.read.parquet(snap).count() == df.count())
    // snapshot inventory: both versions listed, live one flagged, the
    // compacted version holds fewer files than the small-file grace one
    val snaps = graft.logs.GraftStore.snapshots(spark, root)
    assert(snaps.map(s => (s.version, s.current)) == Seq((1, false), (2, true)))
    assert(snaps.forall(s => s.files > 0 && s.bytes > 0))
    assert(snaps(1).files < snaps(0).files)
    // vacuum reclaims the grace snapshot now instead of at the next commit
    assert(graft.logs.GraftStore.vacuum(spark, root) == Seq(1))
    assert(GraftStore.listVersions(spark, root) == Seq(2))
    intercept[IllegalArgumentException](
      graft.logs.GraftStore.resolveVersion(spark, root, 1))
    assert(GraftStore.readStore(spark, root).count() == df.count())
  }

  test("versioned store recovers an interrupted commit") {
    val root = Files.createTempDirectory("graft-compact5").resolve("store").toString
    val parts = Seq("cluster", "namespace", "date")
    val df = Tables.events(spark, sf).limit(2000)
      .select(
        graft.logs.CriFunctions.nanosToTimestamp($"ts").as("time"),
        $"ts".as("time_ns"), lit("stdout").as("stream"), lit("F").as("logtag"),
        $"props".as("message"), lit("dev").as("cluster"),
        lit("ns0").as("namespace"), lit("n1").as("node"),
        lit("p1").as("pod"), lit("app").as("container"))
      .withColumn("date", date_format($"time", "yyyy-MM-dd"))
      .withColumn("hour", date_format($"time", "HH"))
    GraftStore.init(spark, root)
    appendRaw(df, root, parts)
    val expected = GraftStore.readStore(spark, root).count()
    def versionDir(n: Int) = s"$root/${GraftStore.versionPrefix(n)}"
    // crash A: next version fully staged, but the pointer never flipped
    // (inference off on a clone, like the real staging write). The staged
    // version is debris: the next compaction sweeps it and commits its own
    // (full: the store may already be compact)
    ConfScope.withSessionConf(spark,
      "spark.sql.sources.partitionColumnTypeInference.enabled" -> "false") { s =>
      s.read.parquet(versionDir(1)).repartition(parts.map(col): _*)
        .write.partitionBy(parts: _*).mode("overwrite").parquet(versionDir(2))
    }
    Compaction.compactHive(spark, root, partitionCols = parts, full = true)
    assert(GraftStore.readStore(spark, root).count() == expected)
    assert(GraftStore.currentVersion(spark, root) == 2)
    assert(GraftStore.listVersions(spark, root).max == 2, "nothing staged ahead")
    // crash B: pointer flipped to a new version before anything after the
    // flip ran — the new snapshot is complete, and a compaction finds
    // nothing to do
    org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(versionDir(2)), new java.io.File(versionDir(3)))
    GraftStore.writePointer(spark, root, 3)
    Compaction.compactHive(spark, root, partitionCols = parts)
    assert(GraftStore.currentVersion(spark, root) == 3)
    // grace contract: v2 (the replaced current) survives the reclaim the
    // crash skipped, v1 does not
    GraftStore.vacuum(spark, root, retain = 1)
    assert(GraftStore.listVersions(spark, root) == Seq(2, 3))
    assert(GraftStore.readStore(spark, root).count() == expected)
  }

  test("retention drops date partitions older than the cutoff") {
    val root = Files.createTempDirectory("graft-retention").resolve("store").toString
    val df = Tables.events(spark, sf)
      .select(
        graft.logs.CriFunctions.nanosToTimestamp($"ts").as("time"),
        $"ts".as("time_ns"), lit("stdout").as("stream"), lit("F").as("logtag"),
        $"props".as("message"), lit("dev").as("cluster"),
        lit("ns0").as("namespace"), lit("n1").as("node"),
        lit("p1").as("pod"), lit("app").as("container"))
      .withColumn("date", date_format($"time", "yyyy-MM-dd"))
      .withColumn("hour", date_format($"time", "HH"))
    graft.logs.LogIngest.writeHive(df, root, partitionCols = Seq("cluster", "namespace", "date"))
    val before = GraftStore.readStore(spark, root).count()
    val deleted = graft.logs.Retention.enforceHive(spark, root, "2024-01-10")
    assert(deleted.nonEmpty && deleted.forall(_.contains("date=2024-01-0")))
    val remaining = GraftStore.readStore(spark, root)
    assert(remaining.count() < before)
    assert(remaining.select(min($"date".cast("string"))).head.getString(0) == "2024-01-10")
  }

  test("bucketed tables join without a shuffle (co-located join)") {
    val work = Files.createTempDirectory("graft-bucket")
    val li = Tables.lineitem(spark, sf).select($"l_orderkey", $"l_quantity")
    val ord = Tables.orders(spark, sf).select($"o_orderkey".as("l_orderkey"), $"o_totalprice")
    graft.ext.Bucketing.writeBucketed(li, "li_b", work.resolve("li").toString, "l_orderkey", 8)
    graft.ext.Bucketing.writeBucketed(ord, "ord_b", work.resolve("ord").toString, "l_orderkey", 8)
    // at fixture scale the planner would auto-broadcast (also fine, also
    // shuffle-free) — disable it ON A CLONE to exercise the large-x-large
    // bucketed path without flipping the shared session's conf
    ConfScope.withSessionConf(spark,
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") { s =>
      val joined = graft.ext.Bucketing.coLocatedJoin(s, "li_b", "ord_b", "l_orderkey")
      joined.write.format("noop").mode("overwrite").save()
      val plan = joined.queryExecution.executedPlan.toString()
      assert(!plan.contains("Exchange"), s"bucketed join should not shuffle:\n$plan")
      assert(plan.contains("SortMergeJoin") && plan.contains("Bucketed: true"))
    }
    val joined = graft.ext.Bucketing.coLocatedJoin(spark, "li_b", "ord_b", "l_orderkey")
    // and produces the same rows as the plain join
    assert(joined.count() == li.join(ord, "l_orderkey").count())
    spark.sql("DROP TABLE IF EXISTS li_b"); spark.sql("DROP TABLE IF EXISTS ord_b")
  }

  test("q3/q18 over orderkey-bucketed fact tables: exchange-free and hash-identical") {
    val work = Files.createTempDirectory("graft-bucketq")
    val (liT, ordT) = graft.ext.Bucketing.writeOrderkeyTables(
      spark, sf, work.toString, buckets = 8, prefix = "spec")
    // disable auto-broadcast ON A CLONE so the fixture-scale fact-fact join
    // exercises the bucketed co-location, not a tiny-table broadcast (dims
    // still broadcast through the explicit hint)
    try ConfScope.withSessionConf(spark,
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") { s =>
      val cust = Tables.customer(s, sf)
      val q3b = graft.ext.Bucketing.q3Colocated(s, liT, ordT, cust)
      val q18b = graft.ext.Bucketing.q18Colocated(s, liT, ordT, cust)
      q3b.write.format("noop").mode("overwrite").save()
      q18b.write.format("noop").mode("overwrite").save()
      graft.ext.Bucketing.requireNoShuffle(q3b, "bucketed q3")
      graft.ext.Bucketing.requireNoShuffle(q18b, "bucketed q18")
      // same rows as the stock (shuffling) plans
      def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
        df.collect().map(_.mkString("|")).toSeq
      assert(rows(q3b) ==
        rows(queries.RelationalQueries.topUnshippedOrders(spark, sf)))
      assert(rows(q18b) ==
        rows(queries.RelationalQueries.largeOrders(spark, sf)))
      // q9 over the same layout: dims broadcast, the orderkey join
      // co-locates, only (nation, year) subtotal rows move
      val q9b = graft.ext.Bucketing.q9Colocated(s, liT, ordT,
        Tables.part(s, sf), Tables.supplier(s, sf),
        Tables.table(s, sf, "nation"))
      q9b.write.format("noop").mode("overwrite").save()
      graft.ext.Bucketing.requireShufflesBounded(q9b, "bucketed q9",
        Set("nation", "o_year", "_b"))
      assert(rows(q9b) ==
        rows(queries.RelationalQueries.productProfit(spark, sf)))
    } finally {
      spark.sql("DROP TABLE IF EXISTS spec_lineitem_b")
      spark.sql("DROP TABLE IF EXISTS spec_orders_b")
    }
  }

  test("q13 over custkey-bucketed orders/customer: fact work shuffle-free, rows identical") {
    val work = Files.createTempDirectory("graft-bucketq13")
    val (ordT, custT) = graft.ext.Bucketing.writeCustkeyTables(
      spark, sf, work.toString, buckets = 8, prefix = "spec13")
    // force the co-located large-×-large path on a clone
    try ConfScope.withSessionConf(spark,
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") { s =>
      val q13b = graft.ext.Bucketing.q13Colocated(s, ordT, custT)
      q13b.write.format("noop").mode("overwrite").save()
      // every shuffle must sit above the partial aggregate on c_count — the
      // per-custkey count and the customer left join move nothing
      graft.ext.Bucketing.requireShufflesBounded(q13b, "bucketed q13", Set("c_count"))
      // and the contract helper itself must reject a fact-scale shuffle:
      // execute the stock query OUTSIDE the intercept (an execution failure
      // must fail the test, not satisfy it), then assert the helper alone
      // rejects its plan
      val unbucketed = queries.RelationalQueries.orderCountDistribution(s, sf)
      unbucketed.write.format("noop").mode("overwrite").save()
      intercept[IllegalArgumentException] {
        graft.ext.Bucketing.requireShufflesBounded(
          unbucketed, "stock q13", Set("c_count"))
      }
      def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
        df.collect().map(_.mkString("|")).toSeq
      assert(rows(q13b) ==
        rows(queries.RelationalQueries.orderCountDistribution(spark, sf)))
    } finally {
      spark.sql("DROP TABLE IF EXISTS spec13_orders_ck")
      spark.sql("DROP TABLE IF EXISTS spec13_customer_ck")
    }
  }

  test("q14 over partkey-bucketed lineitem/part: co-located join, values identical") {
    val work = Files.createTempDirectory("graft-bucketq14")
    val (liT, partT) = graft.ext.Bucketing.writePartkeyTables(
      spark, sf, work.toString, buckets = 8, prefix = "spec14")
    try ConfScope.withSessionConf(spark,
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") { s =>
      val q14b = graft.ext.Bucketing.q14Colocated(s, liT, partT)
      q14b.write.format("noop").mode("overwrite").save()
      // the fact join must be co-located; only per-task subtotals move
      graft.ext.Bucketing.requireShufflesBounded(q14b, "bucketed q14", Set("_b"))
      val got = q14b.collect().head
      val want = queries.RelationalQueries.promoRevenue(spark, sf).collect().head
      // identical long-cents arithmetic ⇒ bit-identical doubles
      assert(got.getDouble(0) == want.getDouble(0))
      assert(got.getDouble(1) == want.getDouble(1))
      assert(got.getDouble(2) == want.getDouble(2))
    } finally {
      spark.sql("DROP TABLE IF EXISTS spec14_lineitem_pk")
      spark.sql("DROP TABLE IF EXISTS spec14_part_pk")
    }
  }

  test("BucketBy store layout: q3/q18 exchange-free through format(\"graft\"), plain append fails the claim open") {
    import graft.logs._
    val work = Files.createTempDirectory("graft-storebucket")
    val liRoot = work.resolve("li_store").toString
    val ordRoot = work.resolve("ord_store").toString
    val li = Tables.lineitem(spark, sf).select($"l_orderkey", $"l_shipdate",
        $"l_extendedprice", $"l_discount", $"l_quantity")
      .withColumn("ly", date_format($"l_shipdate", "yyyy"))
    val ord = Tables.orders(spark, sf).select($"o_orderkey", $"o_custkey",
        $"o_orderdate", $"o_orderpriority", $"o_totalprice")
      .withColumn("oy", date_format($"o_orderdate", "yyyy"))
    GraftStore.init(spark, liRoot); GraftStore.init(spark, ordRoot)
    AppendCommit.commit(li, liRoot, partitionCols = Seq("ly"))
    AppendCommit.commit(ord, ordRoot, partitionCols = Seq("oy"))
    // store-level bucketed layout: maintenance pays the orderkey shuffle ONCE
    Compaction.compactHive(spark, liRoot, partitionCols = Seq("ly"), full = true,
      cluster = ClusterSpec.BucketBy("l_orderkey", 8))
    Compaction.compactHive(spark, ordRoot, partitionCols = Seq("oy"), full = true,
      cluster = ClusterSpec.BucketBy("o_orderkey", 8))
    ConfScope.withSessionConf(spark,
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") { s =>
      val liS = s.read.format("graft").load(liRoot)
      val ordS = s.read.format("graft").load(ordRoot)
      // the relation must carry the validated bucket claim
      assert(graft.plans.PlanScans.fileScans(liS).head.relation.bucketSpec
        .exists(b => b.numBuckets == 8 && b.bucketColumnNames == Seq("l_orderkey")))
      val cust = Tables.customer(s, sf)
      val q3b = graft.ext.Bucketing.q3ColocatedFrames(liS, ordS, cust)
      q3b.write.format("noop").mode("overwrite").save()
      graft.ext.Bucketing.requireNoShuffle(q3b, "store-bucketed q3")
      val q18b = graft.ext.Bucketing.q18ColocatedFrames(liS, ordS, cust)
      q18b.write.format("noop").mode("overwrite").save()
      graft.ext.Bucketing.requireNoShuffle(q18b, "store-bucketed q18")
      def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
        df.collect().map(_.mkString("|")).toSeq
      assert(rows(q3b) ==
        rows(queries.RelationalQueries.topUnshippedOrders(spark, sf)))
      assert(rows(q18b) ==
        rows(queries.RelationalQueries.largeOrders(spark, sf)))
    }
    // a plain (unbucketed) append breaks the name invariant: the claim must
    // fail OPEN — ordinary scan, correct rows, no wrong-partitioning plan
    AppendCommit.commit(ord.limit(7), ordRoot, partitionCols = Seq("oy"))
    val ordS2 = spark.read.format("graft").load(ordRoot)
    assert(graft.plans.PlanScans.fileScans(ordS2).head.relation.bucketSpec.isEmpty,
      "a plain append must disable the bucket claim")
    assert(ordS2.count() == ord.count() + 7)
  }

  test("salted count-distinct equals the direct computation") {
    val ev = Tables.events(spark, sf)
    val direct = ev.groupBy($"event_type").agg(countDistinct($"user_id").as("n_distinct"))
      .orderBy($"event_type").collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val salted = graft.ext.Skew.saltedCountDistinct(ev, Seq("event_type"), "user_id", salt = 8)
      .orderBy($"event_type").collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(salted == direct)
  }

  test("stream-stream interval join matches the batch interval join") {
    val work = Files.createTempDirectory("graft-sjoin")
    val lDir = work.resolve("l"); val rDir = work.resolve("r")
    Files.createDirectories(lDir); Files.createDirectories(rDir)
    // left rows at t=100s and 300s; right rows at 40/80/95/250/299s; with a
    // 60s window ([l-60, l] inclusive): l=100 matches 40, 80, 95 and l=300
    // matches 250, 299
    def ts(s: Long) = s * 1000
    Files.writeString(lDir.resolve("l.json"),
      Seq(100L, 300L).map(s => s"""{"user_id":1,"lt":${ts(s)}}""").mkString("\n"))
    Files.writeString(rDir.resolve("r.json"),
      Seq(40L, 80L, 95L, 250L, 299L).map(s => s"""{"user_id":1,"rt":${ts(s)}}""").mkString("\n"))
    val l = spark.readStream.schema("user_id LONG, lt LONG").json(lDir.toString)
    val r = spark.readStream.schema("user_id LONG, rt LONG").json(rDir.toString)
    val joined = StreamAnalytics.intervalJoin(l, r, Seq("user_id"),
      timestamp_millis($"lt"), timestamp_millis($"rt"),
      before = "60 SECONDS", watermark = "10 minutes")
    val q = joined.select($"lt", $"rt").writeStream.outputMode("append")
      .format("memory").queryName("sjoin").start()
    try {
      q.processAllAvailable()
      val got = spark.table("sjoin").as[(Long, Long)].collect().toSet
      val expect = Set((ts(100L), ts(40L)), (ts(100L), ts(80L)), (ts(100L), ts(95L)),
        (ts(300L), ts(250L)), (ts(300L), ts(299L)))
      assert(got == expect)
    } finally q.stop()
  }

  test("streaming windowed agg with watermark") {
    val work = Files.createTempDirectory("graft-streamagg")
    Tables.events(spark, sf).write.parquet(work.resolve("in").toString)
    val stream = spark.readStream
      .schema(Tables.events(spark, sf).schema)
      .parquet(work.resolve("in").toString)
    val agg = StreamAnalytics.windowedCounts(stream,
      graft.logs.CriFunctions.nanosToTimestamp(col("ts")),
      col("event_type"), "1 day", "1 hour")
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("wincounts").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("wincounts")
    assert(got.count() > 100) // ~30 days x 5 types
    val total = got.agg(sum($"n")).as[Long].collect().head
    assert(total == Tables.events(spark, sf).count())
  }
}
