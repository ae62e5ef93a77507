package graft

import graft.logs.{DeleteVectors, GraftStore, LogIngest}
import org.apache.hadoop.fs.{FileStatus, FilterFileSystem, Path, RawLocalFileSystem}
import java.nio.file.Files
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

/** The local filesystem under the `countfs:` scheme, counting `listStatus`
  * calls per directory while [[ListingCountFs.armed]].
  */
class ListingCountFs extends FilterFileSystem(new RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("countfs:///")
  override def getScheme: String = "countfs"
}) {
  override def listStatus(f: Path): Array[FileStatus] = {
    if (ListingCountFs.armed)
      ListingCountFs.counts.computeIfAbsent(f.toUri.getPath.stripSuffix("/"),
        _ => new AtomicInteger()).incrementAndGet()
    super.listStatus(f)
  }
}

object ListingCountFs {
  @volatile var armed = false
  val counts = new ConcurrentHashMap[String, AtomicInteger]()

  /** `listStatus` calls per directory made by `body`. */
  def during(body: => Any): Map[String, Int] = {
    counts.clear()
    armed = true
    try body finally armed = false
    import scala.jdk.CollectionConverters._
    counts.asScala.map { case (k, v) => k -> v.get }.toMap
  }
}

/** A delete or merge commit lists the live snapshot once: the commit's
  * inventory feeds its matching scan, its carry manifest and its count
  * check. The staged successor is listed once more, through its manifest,
  * for the count check that guards the pointer flip.
  */
class CommitListingSpec extends SparkSpec {
  import spark.implicits._

  private val parts = Seq("cluster", "namespace", "date")

  /** A store whose live version v1 holds six partitions, and those
    * partition dirs' paths.
    */
  private def store(name: String): (String, Seq[String]) = {
    spark.sparkContext.hadoopConfiguration
      .set("fs.countfs.impl", classOf[ListingCountFs].getName)
    val local = Files.createTempDirectory(s"graft-$name").resolve("store").toString
    val rows = for (ns <- 0 until 3; d <- Seq("2024-01-15", "2024-01-16"); i <- 0 until 4)
      yield ("dev", s"ns$ns", d, s"m-$ns-$d-$i")
    LogIngest.writeHive(rows.toDF("cluster", "namespace", "date", "message"),
      "countfs://" + local, partitionCols = parts)
    assert(GraftStore.currentVersion(spark, "countfs://" + local) == 1)
    val v1 = s"$local/${GraftStore.versionPrefix(1)}"
    val leaves = for (ns <- 0 until 3; d <- Seq("2024-01-15", "2024-01-16"))
      yield s"$v1/cluster=dev/namespace=ns$ns/date=$d"
    leaves.foreach(l => assert(Files.isDirectory(java.nio.file.Paths.get(l)), l))
    ("countfs://" + local, leaves)
  }

  private def assertOneLiveListing(root: String, leaves: Seq[String],
      listed: Map[String, Int]): Unit = {
    val v1 = new Path(root, GraftStore.versionPrefix(1)).toUri.getPath
    assert(listed.getOrElse(v1, 0) == 1, s"live version walked ${listed.get(v1)} times")
    leaves.foreach { l =>
      assert(listed.getOrElse(l, 0) == 2, s"$l listed ${listed.getOrElse(l, 0)} times")
    }
  }

  test("a delete commit lists the live snapshot once") {
    val (root, leaves) = store("dellist")
    val listed = ListingCountFs.during {
      val c = DeleteVectors.deleteWhere(spark, root, $"message" === "m-1-2024-01-15-2")
      assert(c.version == 2 && c.deletedRows == 1L)
    }
    assertOneLiveListing(root, leaves, listed)
    assert(GraftStore.readStore(spark, root).count() == 23)
  }

  test("a merge commit lists the live snapshot once") {
    val (root, leaves) = store("mergelist")
    val updates = Seq(("dev", "ns2", "2024-01-16", "m-2-2024-01-16-0"),
      ("dev", "ns0", "2024-01-15", "new")).toDF("cluster", "namespace", "date", "message")
    val listed = ListingCountFs.during {
      val c = DeleteVectors.mergeByKey(spark, root, updates,
        keyCols = Seq("message"), partitionCols = parts)
      assert(c.version == 2 && c.matchedDeleted == 1L && c.inserted == 2L)
    }
    assertOneLiveListing(root, leaves, listed)
    assert(GraftStore.readStore(spark, root).count() == 25)
  }
}
