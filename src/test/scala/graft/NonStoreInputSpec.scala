package graft

import graft.logs.{Compaction, GraftStore, LogIngest, LogStreamIngest, Retention,
  StreamFinalize}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path}

/** A directory Spark wrote as plain parquet is not a store: every store
  * read, write and maintenance job refuses it loudly, naming the root, and
  * leaves it exactly as it was. The reverse holds for close-event
  * finalize, which rewrites positional lakes: it refuses a store.
  */
class NonStoreInputSpec extends SparkSpec {
  import spark.implicits._

  /** Every entry under `dir`: relative path, size and mtime. */
  private def tree(dir: Path): Set[(String, Long, Long)] = {
    val s = Files.walk(dir)
    try s.toArray.toSeq.map(_.asInstanceOf[Path]).map { p =>
      val f = p.toFile
      (dir.relativize(p).toString, if (f.isDirectory) -1L else f.length, f.lastModified)
    }.toSet
    finally s.close()
  }

  test("store reads, writes and maintenance refuse a plain parquet directory, untouched") {
    val dir = Files.createTempDirectory("graft-nonstore").resolve("plain")
    val root = dir.toString
    val df = Seq(("dev", "ns0", "2024-01-14", "a"), ("dev", "ns0", "2024-01-15", "b"))
      .toDF("cluster", "namespace", "date", "message")
    df.write.partitionBy("cluster", "namespace", "date").parquet(root)
    val before = tree(dir)
    assert(before.exists(_._1.endsWith(".parquet")))

    val attempts: Seq[(String, () => Any)] = Seq(
      "readStore" -> (() => GraftStore.readStore(spark, root)),
      "format(graft)" -> (() => spark.read.format("graft").load(root)),
      "writeHive" -> (() => LogIngest.writeHive(df, root,
        partitionCols = Seq("cluster", "namespace", "date"))),
      "compactHive" -> (() => Compaction.compactHive(spark, root,
        partitionCols = Seq("cluster", "namespace", "date"), full = true)),
      "enforceHive" -> (() => Retention.enforceHive(spark, root, "2024-01-15")))
    attempts.foreach { case (name, op) =>
      val e = intercept[IllegalArgumentException](op())
      assert(e.getMessage.contains(root), s"$name: message does not name the root: ${e.getMessage}")
      assert(tree(dir) == before, s"$name changed the directory")
    }
    // the plain directory still reads as Spark wrote it
    assert(spark.read.parquet(root).select(max($"message")).as[String].head() == "b")
  }

  test("finalize and watch refuse a versioned store root, untouched") {
    val base = Files.createTempDirectory("graft-finalize-store")
    val root = base.resolve("store").toString
    LogIngest.writeHive(Seq(("dev", "ns0", "2024-01-15", "a"))
      .toDF("cluster", "namespace", "date", "message"), root,
      partitionCols = Seq("cluster", "namespace", "date"))
    // one pending close event for a stream of that store
    val close = base.resolve("close").toString
    spark.createDataFrame(spark.sparkContext.parallelize(Seq(
        org.apache.spark.sql.Row("dev", "ns0", "p1", "app", 1L, 1L, 2L))),
      StreamFinalize.closeEventSchema).write.parquet(close)
    val before = tree(base)
    val attempts: Seq[(String, () => Any)] = Seq(
      "finalize" -> (() => StreamFinalize.finalizeClosed(spark, close, root)),
      "watch" -> (() => LogStreamIngest.startAutoFinalize(spark, close, root,
        base.resolve("ckpt").toString)))
    attempts.foreach { case (name, op) =>
      val e = intercept[IllegalArgumentException](op())
      assert(e.getMessage.contains(root), s"$name: message does not name the root: ${e.getMessage}")
      assert(tree(base) == before, s"$name changed the store or wrote a ledger")
    }
    assert(GraftStore.readStore(spark, root).count() == 1)
  }
}
