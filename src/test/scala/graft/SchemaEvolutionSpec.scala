package graft

import graft.logs._
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Schema evolution (round-7 gate): add-column commits are metadata-only
  * (zero data files move, proven by file/object identity), pre-evolution
  * rows null-backfill, post-evolution appends carry the column physically,
  * compaction materializes it into rewrites, and the overlay survives every
  * commit type.
  */
/** SOAK suite (r17, VERDICT r16 #7): multi-minute store rehearsals —
  * excluded from the default `sbt test` so the driver's bounded run
  * completes; GRAFT_TEST_FULL=1 restores it (round-end certification
  * profile, recorded in OPTIMIZATION_r17.md).
  */
@org.scalatest.tags.Slow
class SchemaEvolutionSpec extends SparkSpec {
  import spark.implicits._

  private val parts = Seq("cluster", "namespace", "date")

  private def fixture() = Tables.events(spark, sf)
    .select(
      graft.logs.CriFunctions.nanosToTimestamp($"ts").as("time"),
      $"ts".as("time_ns"), lit("stdout").as("stream"), lit("F").as("logtag"),
      $"props".as("message"), lit("dev").as("cluster"),
      lit("ns0").as("namespace"), lit("n1").as("node"),
      lit("p1").as("pod"), lit("app").as("container"))
    .withColumn("date", date_format($"time", "yyyy-MM-dd"))

  private def filesUnder(dir: String): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
    walk(new java.io.File(dir)).filter(_.getName.endsWith(".parquet"))
  }

  test("local disk: add-column is metadata-only; backfill, append, compact all agree") {
    val root = Files.createTempDirectory("graft-evolve").resolve("store").toString
    val df = fixture().limit(1000)
    LogIngest.writeHive(df, root, partitionCols = parts)
    val oldRows = df.count()
    def snapshotFiles(n: Int) = GraftStore.compositeEntries(spark, root, n)
      .map(e => (e.key, e.physical, e.len)).toSet
    val v1Files = snapshotFiles(1)
    assert(v1Files.nonEmpty)

    val v2 = SchemaEvolution.addColumn(spark, root, "quality", "DOUBLE", parts)
    assert(v2 == 2)
    // ZERO data movement: v2 reads every v1 file at the same physical path
    // and length, nothing else appeared, and v2 holds no data of its own
    assert(snapshotFiles(2) == v1Files, "add-column moved or rewrote data files")
    assert(filesUnder(s"$root/${GraftStore.versionPrefix(2)}").isEmpty)
    // the evolution commit changed no rows (CDC across it is empty)
    assert(GraftStore.rowDiff(spark, root, 1, 2).isEmpty)
    // null backfill through the store read
    val evolved = GraftStore.readStore(spark, root)
    assert(evolved.columns.contains("quality"))
    assert(evolved.filter($"quality".isNull).count() == oldRows)
    // duplicate add refused — both overlay and physical
    intercept[IllegalArgumentException](
      SchemaEvolution.addColumn(spark, root, "quality", "DOUBLE", parts))
    intercept[IllegalArgumentException](
      SchemaEvolution.addColumn(spark, root, "message", "STRING", parts))

    // post-evolution append carries the column physically
    val annotated = df.limit(200).withColumn("quality", length($"message").cast("double"))
    LogIngest.writeHive(annotated, root, partitionCols = parts)
    val after = GraftStore.readStore(spark, root)
    assert(after.count() == oldRows + 200)
    assert(after.filter($"quality".isNull).count() == oldRows)
    assert(after.filter($"quality".isNotNull).count() == 200)
    val expectSum = annotated.agg(sum($"quality")).head.getDouble(0)
    assert(after.agg(sum($"quality")).head.getDouble(0) == expectSum)

    // compaction (full) materializes the column into rewritten files and
    // carries the overlay; results identical after
    Compaction.compactHive(spark, root, partitionCols = parts, full = true)
    val compacted = GraftStore.readStore(spark, root)
    assert(compacted.count() == oldRows + 200)
    assert(compacted.filter($"quality".isNull).count() == oldRows)
    assert(compacted.agg(sum($"quality")).head.getDouble(0) == expectSum)
    // a rewritten file physically holds the column now
    val aFile = filesUnder(GraftStore.resolve(spark, root)).head
    assert(spark.read.parquet(aFile.getPath).columns.contains("quality"))
  }

  test("rowDiff: bulk re-ingest multiplicity and hostile column names") {
    // a store whose DATA columns shadow the diff's working names, plus one
    // distinct row whose multiplicity jumps by 10k in a single commit —
    // the expansion must chunk (one 10k-element sequence() array per row
    // would not survive a tens-of-millions delta) and the working columns
    // must dodge the collisions
    val root = Files.createTempDirectory("graft-rowdiff")
      .resolve("store").toString
    val row = Seq(("dup", 7L, -3L, "en")).toDF("_delta", "_side", "_dup", "lang")
    LogIngest.writeHive(row, root, partitionCols = Seq("lang"))
    val bulk = spark.range(10000).select(lit("dup").as("_delta"),
      lit(7L).as("_side"), lit(-3L).as("_dup"), lit("en").as("lang"))
    AppendCommit.commit(bulk, root, Seq("lang"))
    val diff = GraftStore.rowDiff(spark, root, 1, 2).cache()
    try {
      assert(diff.count() == 10000L)
      assert(diff.filter(col("_change") === "added").count() == 10000L)
      // payload columns come through untouched, including the shadow names
      val r = diff.select("_delta", "_side", "_dup", "lang").distinct().collect()
      assert(r.length == 1 && r.head.getString(0) == "dup" &&
        r.head.getLong(1) == 7L && r.head.getLong(2) == -3L)
    } finally diff.unpersist()
  }

  test("rowDiff fails fast when the data schema contains the reserved `_change` name") {
    // the working columns dodge collisions via free(), but the OUTPUT tag
    // is part of the contract — overwriting a user `_change` column would
    // silently corrupt the diff, so it must refuse instead
    val root = Files.createTempDirectory("graft-rowdiff-resv")
      .resolve("store").toString
    val row = Seq(("keep", "en")).toDF("_change", "lang")
    LogIngest.writeHive(row, root, partitionCols = Seq("lang"))
    AppendCommit.commit(Seq(("more", "en")).toDF("_change", "lang"), root, Seq("lang"))
    val e = intercept[IllegalArgumentException] {
      GraftStore.rowDiff(spark, root, 1, 2).count()
    }
    assert(e.getMessage.contains("_change"), e.getMessage)
  }

  test("pointer tier: add-column references the identical object set; time travel spans it") {
    val srv = new graft.sources.S3StubServer()
    try {
      val hc = spark.sparkContext.hadoopConfiguration
      hc.set("fs.s3l.impl", classOf[graft.sources.S3LiteFileSystem].getName)
      hc.set("fs.s3l.endpoint", srv.endpoint)
      hc.set("fs.s3l.impl.disable.cache", "true")
      val root = "s3l://graft-store/evolve-lake"
      val df = fixture().limit(1000).cache()
      LogIngest.writeHive(df, root, partitionCols = parts)
      val oldRows = df.count()
      val objectsBefore = srv.keys.filter(_.endsWith(".parquet")).toSet

      val v2 = SchemaEvolution.addColumn(spark, root, "quality", "DOUBLE", parts)
      assert(v2 == 2)
      // the commit added ZERO data objects — v2 is manifest + overlay +
      // commit record only
      assert(srv.keys.filter(_.endsWith(".parquet")).toSet == objectsBefore)
      assert(GraftStore.readSchemaOverlay(spark, s"$root/v000002") ==
        Seq(("quality", "DOUBLE")))
      val evolved = GraftStore.readStore(spark, root)
      assert(evolved.filter($"quality".isNull).count() == oldRows)

      // post-evolution atomic append, then: live read mixes generations,
      // while time travel to v2 still shows the all-null world
      LogIngest.writeHive(df.limit(150).withColumn("quality", lit(2.5)),
        root, partitionCols = parts)
      val after = GraftStore.readStore(spark, root)
      assert(after.count() == oldRows + 150)
      assert(after.filter($"quality" === 2.5).count() == 150)
      assert(GraftStore.readVersion(spark, root, 2)
        .filter($"quality".isNotNull).count() == 0)
      // retention snapshot commit carries the overlay forward
      val dates = df.select($"date").distinct().as[String].collect().sorted
      Retention.enforceHive(spark, root, dates(1))
      val live = GraftStore.resolve(spark, root)
      assert(GraftStore.readSchemaOverlay(spark, live).nonEmpty)
      assert(GraftStore.readStore(spark, root).columns.contains("quality"))
    } finally srv.stop()
  }
}
