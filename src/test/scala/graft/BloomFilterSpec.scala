package graft

import graft.logs.{Compaction, GraftStore, Introspect, LogIngest}
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Selector-column bloom filters (LogSchema.parquetBloomOptions).
  *
  * `{pod="x"}` equality can't be pruned by row-group min/max — pod names
  * are hash-like and uncorrelated with write order. Exclusion comes from
  * two complementary parquet mechanisms, and the write path must always
  * provide one of them:
  *   - a fully dictionary-encoded chunk answers equality EXACTLY (parquet
  *     readers prune row groups from the dictionary page), and parquet-mr
  *     deliberately skips the redundant bloom there;
  *   - when cardinality blows the dictionary out (the 100 TB case — ~10⁵
  *     pods per file), the chunk falls back to plain encoding and the
  *     bloom filter becomes the only sub-linear exclusion — that is what
  *     LogSchema.parquetBloomOptions buys.
  * These specs pin the invariant (dictionary or bloom, never neither) on
  * the natural write, then force the fallback leg and prove the bloom
  * exists, discriminates, and survives a compaction rewrite.
  */
class BloomFilterSpec extends SparkSpec {
  import spark.implicits._

  private val parts = Seq("cluster", "namespace", "date")

  private def fixture(pod: org.apache.spark.sql.Column) = Tables.events(spark, sf)
    .select(
      graft.logs.CriFunctions.nanosToTimestamp($"ts").as("time"),
      $"ts".as("time_ns"), lit("stdout").as("stream"), lit("F").as("logtag"),
      $"props".as("message"), lit("dev").as("cluster"),
      lit("ns0").as("namespace"), lit("n1").as("node"),
      pod.as("pod"), lit("app").as("container"))
    .withColumn("date", date_format($"time", "yyyy-MM-dd"))

  private def podMeta(glob: String) = Introspect
    .parquetColumnMetadata(spark, glob).filter($"column" === "pod")
    .select($"file", $"row_group", $"encodings")

  test("every pod chunk is dictionary-encoded or bloom-filtered — never unprunable") {
    val root = Files.createTempDirectory("graft-bloom").resolve("store").toString
    LogIngest.writeHive(
      fixture(concat(lit("pod-"), pmod($"event_id", lit(200)))),
      root, partitionCols = parts)
    val glob = s"$root/${GraftStore.versionPrefix(1)}/cluster=dev/namespace=ns0/date=*"
    val enc = podMeta(glob).cache()
    assert(enc.count() > 0)
    val bloom = Introspect.parquetBloomProbe(spark, glob, "pod")
      .select($"file", $"row_group", $"has_bloom")
    val joined = enc.join(bloom, Seq("file", "row_group"))
    // a chunk that fell back from dictionary AND has no bloom would make
    // pod-equality scans read every row group — the unacceptable state
    val unprunable = joined.filter(
      !$"encodings".contains("DICTIONARY") && !$"has_bloom")
    assert(unprunable.count() == 0, unprunable.collect().mkString("\n"))
    enc.unpersist()
  }

  test("dictionary fallback: blooms discriminate and survive compaction") {
    // simulate 100TB-scale pod cardinality by disabling the dictionary for
    // pod on the write side — the same physical state a dict-page overflow
    // produces — through the SAME LogIngest/Compaction code paths
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("parquet.enable.dictionary#pod", "false")
    try {
      val root = Files.createTempDirectory("graft-bloomf").resolve("store").toString
      val df = fixture(concat(lit("pod-"), $"event_id"))
      LogIngest.writeHive(df, root, partitionCols = parts)
      val dates = df.select($"date").distinct().as[String].collect().sorted
      val glob1 = s"$root/${GraftStore.versionPrefix(1)}/cluster=dev/namespace=ns0/date=*"
      assert(podMeta(glob1).filter($"encodings".contains("DICTIONARY")).count() == 0,
        "fallback not in effect — the test would silently pass on the dict leg")
      val probe = Introspect.parquetBloomProbe(spark, glob1,
        "pod", probe = Seq("pod-1", "absent-pod-xyz")).cache()
      assert(probe.count() > 0)
      assert(probe.filter(!$"has_bloom").count() == 0)
      // the absent probe is excluded everywhere (fp odds ~0 against the
      // 16k-ndv-sized filter)
      assert(probe.filter(array_contains($"maybe_present", "absent-pod-xyz")).count() == 0)
      // no false negative: the row group holding pod-1 reports it present —
      // and the OTHER row groups exclude it, which is the pruning win
      // (pod-1 lives in exactly one date partition of this fixture)
      assert(probe.filter(array_contains($"maybe_present", "pod-1")).count() >= 1)
      assert(probe.filter(array_contains($"maybe_present", "pod-1")).count() <
        probe.count())
      probe.unpersist()

      // compaction rewrite preserves the physical contract
      appendRaw(df.filter($"date" === dates.head).repartition(4), root, parts,
        maxRecordsPerFile = 10, options = graft.logs.LogSchema.parquetBloomOptions)
      Compaction.compactHive(spark, root, partitionCols = parts)
      assert(GraftStore.currentVersion(spark, root) == 2)
      val rewritten = Introspect.parquetBloomProbe(spark,
        s"$root/${GraftStore.versionPrefix(2)}/cluster=dev/namespace=ns0/date=${dates.head}",
        "pod", probe = Seq("absent-pod-xyz"))
      assert(rewritten.count() > 0)
      assert(rewritten.filter(!$"has_bloom").count() == 0)
      assert(rewritten.filter(array_contains($"maybe_present", "absent-pod-xyz")).count() == 0)
    } finally hc.unset("parquet.enable.dictionary#pod")
  }
}
