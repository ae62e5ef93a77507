package graft.logs

import org.apache.spark.sql.functions._

/** Scale rehearsal for incremental compaction: builds two identical hive
  * stores (one date partition per calendar day) from the events table,
  * plants a small-file mess in exactly ONE partition of each, then times an
  * INCREMENTAL commit against a FULL rewrite of the same store. The ratio
  * is the whole point of the manifest carry: maintenance cost
  * tracks dirty data, not store size, so it should approach
  * 1/(partition count) plus fixed commit overhead as the store grows.
  *
  * {{{ runMain graft.logs.CompactRehearsal <sfDir> <workDir> }}}
  * Prints one JSON line: store shape, dirty share, and both commit walls.
  */
object CompactRehearsal {

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: CompactRehearsal <sfDir> <workDir>")
    val sfDir = args(0)
    val work = args(1)
    val spark = graft.GraftSession.local("graft-compact-rehearsal")
    import spark.implicits._
    try {
      val df = graft.Tables.events(spark, sfDir)
        .select(
          CriFunctions.nanosToTimestamp($"ts").as("time"),
          $"ts".as("time_ns"), lit("stdout").as("stream"), lit("F").as("logtag"),
          $"props".as("message"), lit("dev").as("cluster"),
          lit("ns0").as("namespace"), lit("n1").as("node"),
          lit("p1").as("pod"), lit("app").as("container"))
        .withColumn("date", date_format($"time", "yyyy-MM-dd"))
      val parts = Seq("cluster", "namespace", "date")
      val dirtyDate = df.select(min($"date")).as[String].head()
      val mess = df.filter($"date" === dirtyDate).repartition(8)

      def build(root: String): Unit = {
        LogIngest.writeHive(df, root, partitionCols = parts)
        mess.write.partitionBy(parts: _*).option("maxRecordsPerFile", 1000)
          .mode("append").parquet(GraftStore.resolve(spark, root))
      }
      def time(f: => Unit): Double = {
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }

      val incRoot = s"$work/inc-store"
      val fullRoot = s"$work/full-store"
      build(incRoot); build(fullRoot)
      val rows = GraftStore.readStore(spark, incRoot).count()
      val nParts = df.select($"date").distinct().count()

      val incSec = time(Compaction.compactHive(spark, incRoot, partitionCols = parts))
      val fullSec = time(Compaction.compactHive(spark, fullRoot, partitionCols = parts,
        full = true))
      require(GraftStore.readStore(spark, incRoot).count() == rows, "incremental lost rows")
      require(GraftStore.readStore(spark, fullRoot).count() == rows, "full rewrite lost rows")
      // bytes the commit actually wrote (diff vs the grace snapshot): the
      // at-scale cost metric — wall time converges to fixed job overhead at
      // small SF, but rewritten bytes are what a 100 TB store pays for
      def rewritten(root: String): Long =
        GraftStore.diffVersions(spark, root,
          GraftStore.snapshots(spark, root).map(_.version).min,
          GraftStore.snapshots(spark, root).map(_.version).max).bytesAdded
      val incBytes = rewritten(incRoot)
      val fullBytes = rewritten(fullRoot)

      println(s"""{"metric":"compact_rehearsal","rows":$rows,"partitions":$nParts,""" +
        s""""dirty_partitions":1,"incremental_sec":$incSec,"full_sec":$fullSec,""" +
        s""""incremental_bytes_rewritten":$incBytes,"full_bytes_rewritten":$fullBytes,""" +
        s""""io_reduction":${fullBytes.toDouble / math.max(incBytes, 1)},"sf":"$sfDir"}""")
    } finally spark.stop()
  }
}
