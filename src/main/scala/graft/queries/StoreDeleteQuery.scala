package graft.queries

import graft.Tables
import graft.logs._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** x15 — row-level deletes ([[DeleteVectors.deleteWhere]]) as a
  * self-verifying oracle gate.
  *
  * The reference expires data only at partition granularity (whole `date=`
  * prefixes); the engine adds merge-on-read deletion vectors for the row-
  * level case (GDPR point deletes, decontamination strikes). The gate drives
  * the real machinery end-to-end on a versioned store built from `events`:
  *
  *   v1  ingest
  *   v2  deleteWhere #1 — a content predicate (`length(message) % 7 = 0`);
  *       zero data bytes move, the vector sidecar carries the positions
  *   v3  deleteWhere #2 — a time predicate overlapping #1, so the commit
  *       exercises vector MERGING (only newly-matched rows count)
  *
  * At bulk scale (sf100: ~24M matched positions) each delete exceeds the
  * range cap and auto-materializes copy-on-write, inserting a compaction
  * version after its vector commit — the gate therefore anchors time
  * travel on `c1.version` (correct in both regimes) rather than on
  * relative version arithmetic.
  *
  * DuckDB restates every number straight from `events`: the deleted counts,
  * the surviving rows, and a content checksum (sum of message lengths) over
  * the final live view. `time_travel_ok` pins that the pre-delete snapshot
  * still reads complete, and `live_match_zero` that no deleted row survives.
  *
  * Scale: a delete commit is O(metadata + matched rows) regardless of store
  * size — the files are carried by reference, the vector rides the
  * sidecar, and reads apply it as a broadcast anti-join on (file, position).
  */
object StoreDeleteQuery {

  private val memo =
    new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()

  def run(spark: SparkSession, dir: String): DataFrame = synchronized {
    Tables.memo(memo, dir, spark)(build(spark, dir))
  }

  private def build(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val work = graft.tools.TempRoots.createTempDir("graft-dv-x15")
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
    val nTotal = GraftStore.readStore(spark, root).count()

    // delete #1: content predicate (SQL-restatable)
    val del1 = length($"message") % 7 === 0
    val c1 = DeleteVectors.deleteWhere(spark, root, del1, commitId = Some("x15-d1"))

    // delete #2: time predicate OVERLAPPING #1 — the commit merges vectors
    // and counts only the newly-matched rows
    // `div` keeps the ns→µs step in exact integer arithmetic — `/` goes
    // through double, which rounds differently than the oracle's integer
    // epoch_us at 2⁶⁰-scale nanos (one row per ~10⁴ lands on the other
    // side of the modulus and the content checksum drifts by one message)
    // retainSnapshots=2: at bulk scale each delete may be over-cap and
    // materialize (vector commit + copy-on-write compaction = TWO
    // versions), so keeping the post-delete-#1 snapshot time-travelable
    // through both of delete #2's commits needs two grace snapshots
    val del2 = expr("((time_ns div 1000) % 97) < 13")
    val c2 = DeleteVectors.deleteWhere(spark, root, del2, commitId = Some("x15-d2"),
      retainSnapshots = 2)

    val live = GraftStore.readStore(spark, root)
    val liveAgg = live.agg(
      count(lit(1)).as("n_live"),
      coalesce(sum(length($"message")).cast("long"), lit(0L)).as("live_msg_chars"),
      coalesce(sum(when(del1 || del2, 1L).otherwise(0L)), lit(0L)).as("n_live_matching"))
      .head()
    // the retained post-delete-#1 snapshot reads complete under its own
    // state (time travel). Anchor on c1.version, NOT c2.version-1: in the
    // over-cap regime a delete is TWO commits (vector + materializing
    // compaction), so "one version before c2" would be delete #2's own
    // vector commit — c1.version is the post-delete-#1 snapshot in both
    // regimes (its vector sidecar under cap, its rewritten layout above)
    val v2Count = GraftStore.readVersion(spark, root, c1.version).count()

    spark.range(1).select(
      lit(nTotal).as("n_total"),
      lit(c1.deletedRows).as("n_deleted_content"),
      lit(c2.deletedRows).as("n_deleted_time_new"),
      lit(liveAgg.getLong(0)).as("n_live"),
      lit(liveAgg.getLong(1)).as("live_msg_chars"),
      lit(liveAgg.getLong(2) == 0L).as("live_match_zero"),
      lit(v2Count == nTotal - c1.deletedRows).as("time_travel_ok"))
  }
}
