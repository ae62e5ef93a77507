package graft

import graft.logs._
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** `format("graft")` connector ([[graft.sources.GraftSourceProvider]]):
  * snapshot reads as an ordinary data source — native parquet fast path
  * with manifest-pinned file listing and stats skipping, wrapped fallback
  * under deletion vectors, atomic append writes.
  */
class GraftSourceSpec extends SparkSpec {
  import spark.implicits._

  private val parts = Seq("cluster", "namespace", "date")

  private def fixture() = Tables.events(spark, sf)
    .select(
      CriFunctions.nanosToTimestamp($"ts").as("time"),
      $"ts".as("time_ns"), lit("stdout").as("stream"), lit("F").as("logtag"),
      $"props".as("message"), lit("dev").as("cluster"),
      lit("ns0").as("namespace"), lit("n1").as("node"),
      concat(lit("pod-"), ($"user_id" % 4).cast("string")).as("pod"),
      lit("app").as("container"))
    .withColumn("date", date_format($"time", "yyyy-MM-dd"))

  private def newRoot(tag: String): String =
    Files.createTempDirectory(s"graft-src-$tag").resolve("store").toString

  private def sortedRows(df: DataFrame): Seq[String] =
    df.select($"time_ns", $"message", $"pod")
      .collect().map(_.mkString("|")).sorted.toSeq

  private def scanExec(df: DataFrame): FileSourceScanExec = {
    val ss = graft.plans.PlanScans.fileScans(df)
    assert(ss.size == 1, s"expected one file scan, got ${ss.size}")
    ss.head
  }

  test("fast path: native parquet scan, parity with readStore, composite append visible") {
    val root = newRoot("rt")
    val df = fixture()
    val dates = df.select($"date").distinct().as[String].collect().sorted
    LogIngest.writeHive(df.filter($"date" =!= dates.last), root, partitionCols = parts)
    // second commit → manifest-carried composite snapshot
    AppendCommit.commit(df.filter($"date" === dates.last), root, parts,
      commitId = Some("src-a1"))
    val got = spark.read.format("graft").load(root)
    // the read plans a native file scan (vectorized parquet, not an RDD shim)
    scanExec(got.filter($"time_ns" > 0L))
    assert(sortedRows(got) == sortedRows(inferredRead(root)))
    // partition columns parse per leg like the engine's basePath reads
    assert(got.schema.fieldNames.toSet.intersect(parts.toSet) == parts.toSet)
  }

  test("stats skipping: pushed time_ns filter drops files before any footer") {
    val root = newRoot("skip")
    val df = fixture()
    LogIngest.writeHive(df, root, partitionCols = parts)
    val total = inferredRead(root).inputFiles.length
    val cutoff = df.agg(max($"time_ns")).as[Long].head() - 7L * 86400 * 1000000000L
    val q = spark.read.format("graft").load(root).filter($"time_ns" >= cutoff)
    val expect = inferredRead(root).filter($"time_ns" >= cutoff)
    assert(sortedRows(q) == sortedRows(expect), "skipping must not change results")
    q.collect()
    val numFiles = scanExec(q).metrics("numFiles").value
    assert(numFiles < total,
      s"stats skipping should scan fewer than all $total files, scanned $numFiles")
    // pod equality skips too (per-file pod min/max ranges)
    val qp = spark.read.format("graft").load(root)
      .filter($"pod" === "pod-0" && $"time_ns" >= cutoff)
    qp.collect()
    assert(scanExec(qp).metrics("numFiles").value <= numFiles)
  }

  test("time travel: versionAsOf and timestampAsOf match the store API") {
    val root = newRoot("tt")
    val df = fixture()
    val dates = df.select($"date").distinct().as[String].collect().sorted
    LogIngest.writeHive(df.filter($"date" =!= dates.last), root, partitionCols = parts)
    val v1 = GraftStore.liveVersionOf(spark, root)
    AppendCommit.commit(df.filter($"date" === dates.last), root, parts)
    val v2 = GraftStore.liveVersionOf(spark, root)
    assert(v2 > v1)
    val old = spark.read.format("graft").option("versionAsOf", v1.toString).load(root)
    assert(sortedRows(old) == sortedRows(inferredRead(root, Some(v1))))
    val t1 = GraftStore.commitTimeOf(spark, root, v1)
    val asOf = spark.read.format("graft").option("timestampAsOf", t1.toString).load(root)
    assert(asOf.count() == old.count())
    intercept[IllegalArgumentException] {
      spark.read.format("graft")
        .option("versionAsOf", "1").option("timestampAsOf", "0").load(root)
    }
  }

  test("deletion vectors: wrapped tier applies the anti-join; compaction returns the fast tier") {
    val root = newRoot("dv")
    val df = fixture()
    LogIngest.writeHive(df, root, partitionCols = parts)
    val pred = (($"time_ns" / 1000).cast("long") % 97) < 13
    val deleted = DeleteVectors.deleteWhere(spark, root, pred,
      commitId = Some("src-d1")).deletedRows
    assert(deleted > 0)
    val got = spark.read.format("graft").load(root)
    assert(got.filter(pred).count() == 0, "deleted rows must not surface")
    assert(got.count() == df.count() - deleted)
    // writer-side wrapped scan still prunes columns in the delegate
    assert(got.select($"pod").distinct().count() == 4)
  }

  test("DV-aware metadata aggregates: COUNT answers scanless under live vectors, min/max scans") {
    val root = newRoot("dvmeta")
    val df = fixture()
    LogIngest.writeHive(df, root, partitionCols = parts)
    val pred = (($"time_ns" / 1000).cast("long") % 97) < 13
    val deleted = DeleteVectors.deleteWhere(spark, root, pred,
      commitId = Some("src-dvm1")).deletedRows
    assert(deleted > 0)
    val t = spark.read.format("graft").load(root)
    // global + grouped COUNT and max(partition col): zero read nodes,
    // values = physical − deleted (per dir)
    val total = t.groupBy().count()
    assert(graft.plans.PlanScans.readless(total),
      "global count under live DVs must answer from stats minus deletes")
    assert(total.as[Long].head() == df.count() - deleted)
    val grouped = t.groupBy($"date").agg(count(lit(1)).as("n"))
    assert(graft.plans.PlanScans.readless(grouped))
    val expectByDate = df.filter(!pred).groupBy($"date").agg(count(lit(1)).as("n"))
      .as[(String, Long)].collect().toMap
    assert(grouped.as[(String, Long)].collect().toMap == expectByDate)
    val fresh = t.groupBy().agg(max($"date"))
    assert(graft.plans.PlanScans.readless(fresh),
      "partition-col max stays exact (live-row witness) under DVs")
    // a data-column extreme must NOT come from stats while vectors live
    val mn = t.groupBy().agg(min($"time_ns").as("lo"))
    assert(!graft.plans.PlanScans.readless(mn),
      "data-column min under live DVs must keep its scan")
    assert(mn.as[Long].head() == df.filter(!pred).agg(min($"time_ns")).as[Long].head())
    // fail-open: strip the stats sidecar → the count must fall back to a
    // real (anti-joined) scan and still be right
    val liveDir = GraftStore.resolveVersion(spark, root,
      GraftStore.liveVersionOf(spark, root))
    val statsPath = new org.apache.hadoop.fs.Path(liveDir, FileStats.StatsName)
    val fs = statsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(statsPath, false), "fixture must have had a stats sidecar")
    val t2 = spark.read.format("graft").load(root)
    val total2 = t2.groupBy().count()
    assert(!graft.plans.PlanScans.readless(total2),
      "missing stats line must disable the metadata shortcut wholesale")
    assert(total2.as[Long].head() == df.count() - deleted)
  }

  test("schema overlay: evolved column null-backfills on the native path") {
    val root = newRoot("ev")
    LogIngest.writeHive(fixture(), root, partitionCols = parts)
    SchemaEvolution.addColumn(spark, root, "severity", "STRING", parts)
    val got = spark.read.format("graft").load(root)
    assert(got.schema.fieldNames.contains("severity"))
    assert(got.filter($"severity".isNotNull).count() == 0)
    // still a native file scan — the overlay rides the declared schema
    scanExec(got.filter($"time_ns" > 0L))
  }

  test("write path: mode(append) commits atomically, replays exactly once") {
    val root = newRoot("wr")
    val df = fixture()
    val dates = df.select($"date").distinct().as[String].collect().sorted
    LogIngest.writeHive(df.filter($"date" =!= dates.last), root, partitionCols = parts)
    val before = GraftStore.liveVersionOf(spark, root)
    val batch = df.filter($"date" === dates.last)
    batch.write.format("graft")
      .option("partitionColumns", parts.mkString(","))
      .option("commitId", "src-w1").mode(SaveMode.Append).save(root)
    assert(GraftStore.liveVersionOf(spark, root) == before + 1)
    assert(spark.read.format("graft").load(root).count() == df.count())
    // same commitId again → replay detected, nothing doubles
    batch.write.format("graft")
      .option("partitionColumns", parts.mkString(","))
      .option("commitId", "src-w1").mode(SaveMode.Append).save(root)
    assert(spark.read.format("graft").load(root).count() == df.count())
    intercept[IllegalArgumentException] {
      batch.write.format("graft").mode(SaveMode.Overwrite).save(root)
    }
  }

  test("append row count: exact over a many-file staged batch, zero for an empty batch") {
    val root = newRoot("cnt")
    val df = fixture()
    val dates = df.select($"date").distinct().as[String].collect().sorted
    LogIngest.writeHive(df.filter($"date" === dates.head), root, partitionCols = parts)
    val batch = df.filter($"date" =!= dates.head)
    val c = AppendCommit.commit(batch, root, parts, maxRecordsPerFile = 5L)
    val staged = Files.walk(java.nio.file.Paths.get(root)).toArray.map(_.toString)
      .count(p => p.contains(GraftStore.AppendPrefix) && p.endsWith(".parquet"))
    assert(staged > dates.length, s"expected a many-file batch, staged $staged files")
    assert(c.rows == batch.count())
    assert(spark.read.format("graft").load(root).count() == df.count())
    val empty = AppendCommit.commit(batch.limit(0), root, parts)
    assert(empty.rows == 0L && empty.version == c.version)
  }

  test("SQL surface: USING graft works for plain spark.sql queries") {
    val root = newRoot("sql")
    LogIngest.writeHive(fixture(), root, partitionCols = parts)
    spark.sql("DROP TABLE IF EXISTS graft_src_sql")
    spark.sql(
      s"CREATE TABLE graft_src_sql USING graft OPTIONS (path '$root')")
    try {
      val n = spark.sql(
        "SELECT count(*) AS n FROM graft_src_sql WHERE pod = 'pod-1'")
        .as[Long].head()
      assert(n == fixture().filter($"pod" === "pod-1").count())
    } finally spark.sql("DROP TABLE IF EXISTS graft_src_sql")
  }

  test("option validation: clear errors for bad option combinations") {
    val root = newRoot("err")
    LogIngest.writeHive(fixture(), root, partitionCols = parts)
    intercept[IllegalArgumentException] {
      spark.read.format("graft").option("versionAsOf", "1")
        .option("sinceNs", "0").load(root)
    }
    intercept[IllegalArgumentException] {
      spark.read.format("graft").load()
    }
  }

  test("metadata-only aggregates: count/min/max answer from stats with zero file I/O") {
    val root = newRoot("meta")
    val df = fixture()
    LogIngest.writeHive(df, root, partitionCols = parts)
    def hasFileScan(d: DataFrame): Boolean = !graft.plans.PlanScans.scanless(d)
    val t = spark.read.format("graft").load(root)
    val cnt = t.groupBy().agg(count(lit(1)).as("n"),
      min($"time_ns").as("lo"), max($"time_ns").as("hi"))
    assert(!hasFileScan(cnt), "stats-answerable aggregate must not plan a file scan")
    val Array(row) = cnt.collect()
    val (en, elo, ehi) = df.agg(count(lit(1)), min($"time_ns"), max($"time_ns"))
      .as[(Long, Long, Long)].head() match { case (a, b, c) => (a, b, c) }
    assert(row.getLong(0) == en && row.getLong(1) == elo && row.getLong(2) == ehi)
    // Dataset.count() takes the same shortcut
    assert(t.count() == en)
    // a filter breaks the match: real scan, same answer
    val filtered = t.filter($"pod" === "pod-1").groupBy().count()
    assert(hasFileScan(filtered))
    // min/max of a DATA column now answers from the sidecar's per-column
    // bounds (x25) — message stats are short ASCII here, so zero I/O
    val dmm = t.groupBy().agg(min($"message").as("lo"), max($"message").as("hi"))
    assert(!hasFileScan(dmm), "data-column min/max must answer from ColStat")
    assert(dmm.collect().head.mkString("|") ==
      df.agg(min($"message"), max($"message")).collect().head.mkString("|"))
    // a TIMESTAMP column stays excluded (ColStat's raw long can be micros
    // or nanos — the kind char can't tell, so the rule must not guess)
    assert(hasFileScan(t.groupBy().agg(min($"time"))),
      "timestamp min/max must fail open to a real scan")
    // fail open: strip the sidecar — the SAME query plans a real scan
    val dir = new org.apache.hadoop.fs.Path(GraftStore.resolve(spark, root))
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val sidecars = fs.listStatus(dir).map(_.getPath)
      .filter(_.getName == FileStats.StatsName)
    sidecars.foreach(p => fs.delete(p, false))
    val bare = spark.read.format("graft").load(root).groupBy().count()
    assert(hasFileScan(bare), "missing stats must fail open to a real scan")
    assert(bare.as[Long].head() == en)
  }

  test("metadata-only aggregates: GROUP BY partition columns answers from stats") {
    val root = newRoot("metag")
    val df = fixture()
    LogIngest.writeHive(df, root, partitionCols = parts)
    def hasFileScan(d: DataFrame): Boolean = !graft.plans.PlanScans.scanless(d)
    val t = spark.read.format("graft").load(root)
    val per = t.groupBy($"date")
      .agg(count(lit(1)).as("n"), max($"time_ns").as("hi"))
    assert(!hasFileScan(per), "partition-grouped aggregate must not scan files")
    val got = per.orderBy($"date").collect().map(_.mkString("|"))
    val want = df.groupBy($"date")
      .agg(count(lit(1)).as("n"), max($"time_ns").as("hi"))
      .orderBy($"date").collect().map(_.mkString("|"))
    assert(got.sameElements(want))
    // DISTINCT over partition values is pure grouping — metadata-only too
    val distinctDates = t.select($"date").distinct()
    assert(!hasFileScan(distinctDates),
      "DISTINCT over partition columns must answer from directory values")
    assert(distinctDates.collect().map(_.mkString).sorted.sameElements(
      df.select($"date").distinct().collect().map(_.mkString).sorted))
    // grouping by a DATA column is not answerable from directory metadata
    assert(hasFileScan(t.groupBy($"pod").count()))
    // neither is a grouped aggregate under a filter
    assert(hasFileScan(t.filter($"pod" === "pod-1").groupBy($"date").count()))
    // min/max over a PARTITION column answers from directory values —
    // max(date) is the canonical freshness probe
    val fresh = t.groupBy().agg(min($"date").as("lo"), max($"date").as("hi"))
    assert(!hasFileScan(fresh), "partition-column min/max must be metadata-only")
    val Array(fr) = fresh.collect()
    val Array(wf) = df.agg(min($"date"), max($"date")).collect()
    assert(fr.mkString("|") == wf.mkString("|"))
    // grouped: per-cluster latest date, still zero I/O
    val perC = t.groupBy($"cluster").agg(max($"date").as("hi"), count(lit(1)).as("n"))
    assert(!hasFileScan(perC))
    assert(perC.collect().map(_.mkString("|")).sorted.sameElements(
      df.groupBy($"cluster").agg(max($"date").as("hi"), count(lit(1)).as("n"))
        .collect().map(_.mkString("|")).sorted))
    // min/max over a DATA column answers from its ColStat bounds too (x25)
    val dpod = t.groupBy().agg(max($"pod").as("hi"))
    assert(!hasFileScan(dpod), "data-column max must answer from ColStat")
    assert(dpod.as[String].head() == df.agg(max($"pod")).as[String].head())
    // a PARTITION-column-only filter selects whole directories exactly —
    // count/min/max under it stay metadata-only (the partition-scoped
    // stats-count)
    val ds = df.select($"date").distinct().as[String].collect().sorted
    val mid = ds(ds.length / 2)
    val cnt = t.filter($"date" >= mid).groupBy().count()
    assert(!hasFileScan(cnt), "partition-only filter + count must be metadata-only")
    assert(cnt.as[Long].head() == df.filter($"date" >= mid).count())
    val gf = t.filter($"date" >= mid).groupBy($"date").count()
    assert(!hasFileScan(gf))
    assert(gf.collect().map(_.mkString("|")).sorted.sameElements(
      df.filter($"date" >= mid).groupBy($"date").count()
        .collect().map(_.mkString("|")).sorted))
    // a partition filter selecting NO dirs: count 0, min/max SQL-null
    val none = t.filter($"date" === "1970-01-01")
      .agg(count(lit(1)).as("n"), max($"time_ns").as("hi"), max($"date").as("d"))
    assert(!hasFileScan(none))
    val Array(nr) = none.collect()
    assert(nr.getLong(0) == 0L && nr.isNullAt(1) && nr.isNullAt(2))
    // CollapseProject folds post-agg scalars INTO the Aggregate
    // (`cast(max(date) as string)`) — the substituted-literal fold keeps
    // those metadata-only too
    val folded = t.groupBy($"date").agg(max($"time_ns").as("hi"))
      .select($"date".cast("string").as("d"), expr("hi div 1000").as("hi_us"))
    assert(!hasFileScan(folded), "folded post-agg scalars must stay metadata-only")
    assert(folded.collect().map(_.mkString("|")).sorted.sameElements(
      df.groupBy($"date").agg(max($"time_ns").as("hi"))
        .select($"date".cast("string").as("d"), expr("hi div 1000").as("hi_us"))
        .collect().map(_.mkString("|")).sorted))
  }

  test("metadata-only aggregates: renames resolve by exprId, never by projected name") {
    val root = newRoot("metar")
    val df = fixture()
    LogIngest.writeHive(df, root, partitionCols = parts)
    def hasFileScan(d: DataFrame): Boolean = !graft.plans.PlanScans.scanless(d)
    val t = spark.read.format("graft").load(root)
    // a DATA column renamed to shadow a partition column must NOT answer
    // from directory values — it resolves to `node`, which stats can't group
    val shadow = t.select($"node".as("date")).groupBy($"date").count()
    assert(hasFileScan(shadow), "renamed data column must fail open to a scan")
    val Array(srow) = shadow.collect()
    assert(srow.getString(0) == "n1" && srow.getLong(1) == df.count())
    // a column renamed TO time_ns must not answer from the ns stats: it
    // resolves by exprId to `pod`, whose own ColStat bounds answer it
    // scanlessly (x25) — the VALUE is min(pod), proving the resolution
    // routed to the underlying column and never to the dedicated ns field
    val fakeTs = t.select($"pod".as("time_ns")).groupBy().agg(min($"time_ns"))
    assert(!hasFileScan(fakeTs),
      "renamed pod answers from pod's own ColStat bounds")
    assert(fakeTs.collect().head.getString(0) ==
      df.agg(min($"pod")).collect().head.getString(0))
    // a REAL rename of the partition column still answers from metadata —
    // exprId resolution sees through the alias to the underlying column
    val renamed = t.select($"date".as("d")).groupBy($"d").count()
    assert(!hasFileScan(renamed), "renamed partition column keeps the shortcut")
    val got = renamed.orderBy($"d").collect().map(_.mkString("|"))
    val want = df.groupBy($"date").count().orderBy($"date")
      .collect().map(_.mkString("|"))
    assert(got.sameElements(want))
    // same for a renamed time_ns under a renamed grouping
    val rn = t.select($"date".as("d"), $"time_ns".as("tn"))
      .groupBy($"d").agg(count(lit(1)).as("n"), max($"tn").as("hi"))
    assert(!hasFileScan(rn))
    val got2 = rn.orderBy($"d").collect().map(_.mkString("|"))
    val want2 = df.groupBy($"date")
      .agg(count(lit(1)).as("n"), max($"time_ns").as("hi"))
      .orderBy($"date").collect().map(_.mkString("|"))
    assert(got2.sameElements(want2))
  }

  test("empty store: reads as an empty DataFrame with a declared schema") {
    val root = newRoot("empty")
    GraftStore.init(spark, root)
    val schema = fixture().schema
    val got = spark.read.format("graft").schema(schema).load(root)
    assert(got.count() == 0)
    assert(got.schema.fieldNames.sameElements(schema.fieldNames))
    // no user schema, no overlay, nothing committed → a clear error, not
    // a bare require blowup deep in the index
    val err = intercept[IllegalArgumentException] {
      spark.read.format("graft").load(root)
    }
    assert(err.getMessage.contains("schema"))
  }

  test("partition values with escapable characters decode exactly once") {
    val root = newRoot("esc")
    // 'a%2Fb' (literal percent-two-F) hive-escapes on disk to 'a%252Fb';
    // a double decode would read it back as 'a/b'
    val df = Seq((1L, "a%2Fb"), (2L, "plain")).toDF("id", "tag")
    LogIngest.ensureStore(spark, root)
    AppendCommit.commit(df, root, partitionCols = Seq("tag"))
    val got = spark.read.format("graft").load(root)
    assert(got.select($"tag").distinct().collect().map(_.getString(0)).toSet ==
      Set("a%2Fb", "plain"))
    assert(got.filter($"tag" === "a%2Fb").count() == 1)
    // the metadata-aggregate shortcut sees the same single-decoded values
    val grouped = spark.read.format("graft").load(root)
      .groupBy($"tag").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(grouped == Map("a%2Fb" -> 1L, "plain" -> 1L))
  }

  test("batch write: .partitionBy lands as real partition dirs") {
    val root = newRoot("pby")
    val df = fixture()
    df.write.format("graft").partitionBy(parts: _*)
      .mode(SaveMode.Append).save(root)
    val got = spark.read.format("graft").load(root)
    assert(got.count() == df.count())
    assert(got.schema.fieldNames.toSet.intersect(parts.toSet) == parts.toSet)
    assert(got.inputFiles.forall(_.contains("date=")),
      "partitionBy must produce hive-layout files, not a flat stage")
    // and a second partitioned append through the same spelling still works
    df.limit(0).write.format("graft").partitionBy(parts: _*)
      .mode(SaveMode.Append).save(root)
  }

  test("timestampAsOf: bare dates parse, nonsense names the accepted formats") {
    val root = newRoot("tsfmt")
    LogIngest.writeHive(fixture(), root, partitionCols = parts)
    // a far-future bare date resolves to the live version (midnight UTC)
    val asOf = spark.read.format("graft")
      .option("timestampAsOf", "2126-01-01").load(root)
    assert(asOf.count() == fixture().count())
    val err = intercept[IllegalArgumentException] {
      spark.read.format("graft")
        .option("timestampAsOf", "next tuesday").load(root)
    }
    assert(err.getMessage.contains("yyyy-MM-dd"))
  }

  test("pointer tier: manifest-carried multi-leg snapshots read natively over an object store") {
    val srv = new graft.sources.S3StubServer()
    try {
      val hc = spark.sparkContext.hadoopConfiguration
      hc.set("fs.s3l.impl", classOf[graft.sources.S3LiteFileSystem].getName)
      hc.set("fs.s3l.endpoint", srv.endpoint)
      hc.set("fs.s3l.impl.disable.cache", "true")
      val root = "s3l://graft-src/conn-lake"
      val df = fixture()
      val dates = df.select($"date").distinct().as[String].collect().sorted
      LogIngest.writeHive(df.filter($"date" =!= dates.last), root, partitionCols = parts)
      assert(GraftStore.isPointerStore(spark, root))
      // atomic append → the new version's manifest CARRIES the prior legs
      AppendCommit.commit(df.filter($"date" === dates.last), root, parts,
        commitId = Some("src-ptr-1"))
      val got = spark.read.format("graft").load(root)
      scanExec(got.filter($"time_ns" > 0L)) // native file scan, multi-leg index
      assert(sortedRows(got) == sortedRows(inferredRead(root)))
      // stats skipping works across legs on the object-store tier too
      val cutoff = df.agg(max($"time_ns")).as[Long].head() - 7L * 86400 * 1000000000L
      val q = got.filter($"time_ns" >= cutoff)
      q.collect()
      assert(scanExec(q).metrics("numFiles").value < got.inputFiles.length)
    } finally srv.stop()
  }

  test("sinceNs/pod CLI options: pruned scan plus the row predicate") {
    val root = newRoot("since")
    val df = fixture()
    LogIngest.writeHive(df, root, partitionCols = parts)
    val cutoff = df.agg(max($"time_ns")).as[Long].head() - 7L * 86400 * 1000000000L
    val got = spark.read.format("graft").option("sinceNs", cutoff.toString).load(root)
    val expect = inferredRead(root).filter($"time_ns" >= cutoff)
    assert(got.count() == expect.count())
    val gotPod = spark.read.format("graft")
      .option("sinceNs", cutoff.toString).option("pod", "pod-2").load(root)
    assert(gotPod.count() == expect.filter($"pod" === "pod-2").count())
  }
}
