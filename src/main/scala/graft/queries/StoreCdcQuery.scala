package graft.queries

import graft.Tables
import graft.logs._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** x11 — snapshot row-level CDC ([[GraftStore.rowDiff]]) as a
  * self-verifying oracle gate.
  *
  * The reference keeps every object immutable and its only "diff" is object
  * listing (`y-logcli` globs); the engine's versioned stores add maintenance
  * rewrites (compaction, retention), so operators need an audit primitive
  * answering "what ROWS did that commit change" — file-level
  * [[GraftStore.diffVersions]] proves counts, `rowDiff` proves contents.
  *
  * The gate drives the real machinery end-to-end on a store built from
  * `events`:
  *   v1  ingest
  *   v2  ATOMIC append commit ([[AppendCommit]], round 7) of a small-file
  *       mess into the NEWEST date partition — manifest-add + pointer bump,
  *       so the oracle gate exercises the writer commit protocol too
  *   v3  incremental compaction — rowDiff(v2,v3) must be EMPTY (the commit
  *       moved bytes but changed no rows; `compact_changed_rows` restates 0)
  *   v4  snapshot retention dropping the OLDEST date — rowDiff(v3,v4) must
  *       be exactly that date's rows, all tagged `removed`, none `added`,
  *       verified as a multiset against the retained v3 snapshot
  *       (`cdc_matches_expired_ok`)
  * DuckDB restates `removed_rows` straight from `events` (count of the
  * oldest calendar date), so a CDC regression flips a hashed cell red.
  *
  * Scale: rowDiff reads ONLY files whose store-layout key changed between
  * the snapshots — one partition's worth here and at 100 TB, never the
  * store — then one hash shuffle (`exceptAll`) over those changed rows.
  */
object StoreCdcQuery {

  private val memo =
    new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()

  def run(spark: SparkSession, dir: String): DataFrame = synchronized {
    Tables.memo(memo, dir, spark)(build(spark, dir))
  }

  private def build(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val work = graft.tools.TempRoots.createTempDir("graft-cdc")
    val root = work.resolve("lake").toString
    val parts = Seq("cluster", "namespace", "date")
    val df = Tables.events(spark, dir).select(
      CriFunctions.nanosToTimestamp($"ts").as("time"),
      $"ts".as("time_ns"), lit("stdout").as("stream"), lit("F").as("logtag"),
      $"props".as("message"), lit("dev").as("cluster"),
      lit("ns0").as("namespace"), lit("n1").as("node"),
      lit("p1").as("pod"), lit("app").as("container"))
      .withColumn("date", date_format($"time", "yyyy-MM-dd"))
    LogIngest.writeHive(df, root, partitionCols = parts)
    val dates = df.select($"date").distinct().as[String].collect().sorted
    require(dates.length > 2, s"fixture too small: ${dates.length} dates")
    // v2: a small-file mess atomically appended into the newest date — the
    // writer commit protocol (stage under _append-<id>, publish by
    // manifest-add + one pointer PUT) runs inside the oracle gate. The
    // mess SCALES WITH THE DAY (~16 files at any sf): a fixed
    // rows-per-file would mint ~17k files at sf1 and turn this gate into
    // the whole bench's critical path (the x21-storm lesson).
    val lastDay = df.filter($"date" === dates.last)
    val mess = AppendCommit.commit(
      lastDay.repartition(4), root, parts,
      maxRecordsPerFile = math.max(1L, lastDay.count() / 16),
      commitId = Some("cdc-mess"))
    require(mess.version == 2 && !mess.replayed,
      s"append commit published v${mess.version} (replayed=${mess.replayed})")

    Compaction.compactHive(spark, root, partitionCols = parts)
    // contents-preserving commit: the row-level diff must cancel exactly
    val compactChanged = GraftStore.rowDiff(spark, root, 2, 3).count()

    // multiset identity key (time_ns, message): types are stable across
    // the partition-inference boundary, and the fixture has no duplicate
    // (ts, props) pairs — plus retention's own row-count verification
    // already pins the cardinality
    val expected = GraftStore.readVersion(spark, root, 3)
      .filter($"date".cast("string") === dates.head)
      .select($"time_ns", $"message")
    val expectedCnt = expected.count()

    Retention.enforceHive(spark, root, dates(1))
    val cdc = GraftStore.rowDiff(spark, root, 3, 4).cache()
    val removed = cdc.filter($"_change" === "removed")
      .select($"time_ns", $"message")
    val removedCnt = removed.count()
    val addedCnt = cdc.filter($"_change" === "added").count()
    val matches = removedCnt == expectedCnt &&
      removed.exceptAll(expected).isEmpty && expected.exceptAll(removed).isEmpty
    cdc.unpersist()

    spark.range(1).select(
      lit(compactChanged).as("compact_changed_rows"),
      lit(removedCnt).as("removed_rows"),
      lit(addedCnt).as("added_rows"),
      lit(matches).as("cdc_matches_expired_ok"))
  }
}
