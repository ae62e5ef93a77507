package graft

import graft.logs.{ClusterSpec, Compaction, GraftStore, Introspect, LogIngest}
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Compaction clustering strategies (ClusterSpec): time-major (default),
  * selector-major lexicographic, and Morton/z-order interleaved.
  *
  * The fixture interleaves 16 pods round-robin in time order, the worst
  * case for selector pruning: under the default time sort every file
  * spans every pod. The specs prove, from the data and the parquet
  * footers, what each strategy buys — and that a re-clustering rewrite
  * changes ZERO rows (GraftStore.rowDiff over the commit is empty).
  */
class ClusteringRewriteSpec extends SparkSpec {
  import spark.implicits._

  private val parts = Seq("cluster", "namespace", "date")

  private def fixture() = Tables.events(spark, sf)
    .select(
      graft.logs.CriFunctions.nanosToTimestamp($"ts").as("time"),
      $"ts".as("time_ns"), lit("stdout").as("stream"), lit("F").as("logtag"),
      $"props".as("message"), lit("dev").as("cluster"),
      lit("ns0").as("namespace"), lit("n1").as("node"),
      concat(lit("pod-"), pmod($"event_id", lit(16))).as("pod"),
      lit("app").as("container"))
    // ONE date partition: the sf0.001 events table is small (~33 rows per
    // calendar day), so per-day partitions would be single-file and no
    // within-partition clustering could show at file granularity
    .withColumn("date", lit("2024-01-01"))

  /** (avg distinct pods per file, avg time_ns span per file / full span) */
  private def layoutStats(root: String): (Double, Double) = {
    val df = GraftStore.readStore(spark, root)
      .select(input_file_name().as("f"), $"pod", $"time_ns")
    val full = df.agg(max($"time_ns") - min($"time_ns")).head.getLong(0).toDouble
    val per = df.groupBy($"f").agg(
      countDistinct($"pod").as("pods"),
      (max($"time_ns") - min($"time_ns")).as("span"))
      .agg(avg($"pods"), avg($"span")).head
    (per.getDouble(0), per.getDouble(1) / full)
  }

  private def build(cluster: ClusterSpec): (String, (Double, Double)) = {
    val root = Files.createTempDirectory("graft-cluster").resolve("store").toString
    LogIngest.writeHive(fixture(), root, partitionCols = parts)
    val before = GraftStore.readStore(spark, root).count()
    // well under the ~330 rows per date partition, so every partition
    // splits into several files and the clustering choice is visible
    Compaction.compactHive(spark, root, partitionCols = parts, full = true,
      maxRecordsPerFile = 50, cluster = cluster)
    // a re-clustering rewrite moves bytes but changes NOTHING: row-level
    // CDC across the commit is empty
    assert(GraftStore.rowDiff(spark, root, 1, 2).isEmpty)
    assert(GraftStore.readStore(spark, root).count() == before)
    (root, layoutStats(root))
  }

  test("selector-major and z-order rewrites narrow per-file stats, change no rows") {
    val (timeRoot, (timePods, timeSpan)) = build(ClusterSpec.TimeMajor)
    val (lexRoot, (lexPods, lexSpan)) = build(ClusterSpec.Lexicographic(Seq("pod", "time_ns")))
    val (_, (zPods, zSpan)) = build(ClusterSpec.ZOrder(Seq("pod", "time_ns")))

    // time-major: every file spans (nearly) every pod, tight time ranges
    assert(timePods > 12, s"time-major pods/file = $timePods")
    assert(timeSpan < 0.2, s"time-major span = $timeSpan")
    // selector-major: near-single-pod files — pod equality skips from
    // footer stats alone — at the cost of full-span time ranges
    assert(lexPods < 3, s"lex pods/file = $lexPods")
    // z-order: strictly between on BOTH dimensions — balanced pruning
    assert(zPods < timePods * 0.75, s"zorder pods/file = $zPods vs $timePods")
    assert(zSpan < lexSpan, s"zorder span = $zSpan vs lex $lexSpan")

    // footer-level pruning metric: how many row groups would a
    // `{pod="pod-0"}` probe have to read, judged by [min,max] straddle
    // alone (exactly what min-max skipping evaluates)?
    def straddling(root: String): (Long, Long) = {
      val stats = Introspect.parquetRowGroupStringStats(spark,
        s"$root/${GraftStore.versionPrefix(2)}/cluster=dev/namespace=ns0/date=*",
        "pod")
      (stats.filter($"min" <= "pod-0" && $"max" >= "pod-0").count(), stats.count())
    }
    val (timeHit, timeTotal) = straddling(timeRoot)
    val (lexHit, lexTotal) = straddling(lexRoot)
    assert(timeHit == timeTotal, s"time-major should straddle everywhere: $timeHit/$timeTotal")
    assert(lexHit * 4 <= lexTotal,
      s"selector-major still reads $lexHit of $lexTotal row groups for one pod")
  }

  test("morton kernel: same-leading-dim keys order by the trailing dim") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    def m(a: Long, b: Long): Long =
      graft.expr.ZOrderKernels.interleave(new GenericArrayData(Array(a, b)))
    assert(m(0L, 0L) == 0L)
    // fixed first dim: morton order preserves second-dim order
    val times = Seq(0L, 1L << 10, 1L << 20, 0xFFFFFFFFL)
    val keys = times.map(t => m(0x12345678L, t))
    assert(keys == keys.sorted, s"not monotone: $keys")
    // first dim dominates the top bit
    assert(m(0x80000000L, 0L) > m(0x7FFFFFFFL, 0xFFFFFFFFL))
  }
}
