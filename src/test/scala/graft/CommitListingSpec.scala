package graft

import graft.logs.{AppendCommit, Compaction, DeleteVectors, GraftStore, LogIngest,
  Retention, SchemaEvolution}
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
  *
  * Every other commit (append, retention, add-column, compaction) is pinned
  * at the per-directory `listStatus` counts the one commit protocol makes:
  * the live tree listed once by the protocol, once more per partition for
  * the staged successor's count check, and compaction's pre-flip
  * re-inventory of the live version. A change that lists any directory
  * more often fails its test.
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

  /** `listStatus` calls per directory, relative to the store root, with
    * staged-append and Spark task dir names (random ids) folded to `*`.
    */
  private def relative(root: String, listed: Map[String, Int]): Map[String, Int] = {
    val base = new Path(root).toUri.getPath
    listed.toSeq.collect { case (d, n) if d.startsWith(base) =>
      (d.stripPrefix(base).stripPrefix("/").replaceAll("_append-[^/]+", "_append-*")
        .replaceAll("task_[0-9_m]+", "task_*"), n)
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }

  /** Asserts no directory is listed more often than `bound` says (absent:
    * never).
    */
  private def assertWithin(op: String, listed: Map[String, Int], bound: Map[String, Int]): Unit = {
    val over = listed.filter { case (d, n) => n > bound.getOrElse(d, 0) }
    assert(over.isEmpty, s"$op lists more than its bound: " +
      over.map { case (d, n) => s"$d $n > ${bound.getOrElse(d, 0)}" }.mkString(", "))
  }

  /** Counts over the live v1 tree: `dirs` for the version dir, `cluster=`
    * and the `namespace=` dirs, `leaf(l)` for partition `l`.
    */
  private def v1Tree(dirs: Int, leaf: String => Int): Map[String, Int] = {
    val v1 = GraftStore.versionPrefix(1)
    val leaves = for (ns <- 0 until 3; d <- Seq("2024-01-15", "2024-01-16"))
      yield s"cluster=dev/namespace=ns$ns/date=$d"
    (Seq(v1, s"$v1/cluster=dev") ++ (0 until 3).map(ns => s"$v1/cluster=dev/namespace=ns$ns"))
      .map(_ -> dirs).toMap ++ leaves.map(l => s"$v1/$l" -> leaf(l))
  }

  // the counts the one commit protocol makes
  private val boundAppend = Map("" -> 7, "v000002" -> 1,
    "_append-*" -> 2, "_append-*/_temporary/0" -> 1, "_append-*/_temporary/0/task_*" -> 1,
    "_append-*/cluster=dev" -> 2, "_append-*/cluster=dev/namespace=ns0" -> 2,
    "_append-*/cluster=dev/namespace=ns0/date=2024-01-16" -> 2) ++ v1Tree(1, _ => 2)
  private val boundRetention = Map("" -> 7, "v000002" -> 1) ++
    v1Tree(1, l => if (l.endsWith("2024-01-16")) 2 else 1)
  private val boundAddColumn = Map("" -> 8, "v000002" -> 1) ++ v1Tree(1, _ => 2)
  private val boundCompaction = Map("" -> 10, "v000002" -> 1,
    "v000002/_temporary/0" -> 1, "v000002/_temporary/0/task_*" -> 1,
    "v000002/cluster=dev" -> 1, "v000002/cluster=dev/namespace=ns1" -> 1,
    "v000002/cluster=dev/namespace=ns1/date=2024-01-15" -> 1) ++ v1Tree(2, _ => 3)

  test("an append commit stays within its pinned listing counts") {
    val (root, _) = store("appendlist")
    val batch = Seq(("dev", "ns0", "2024-01-16", "new"))
      .toDF("cluster", "namespace", "date", "message")
    val listed = ListingCountFs.during {
      assert(AppendCommit.commit(batch, root, parts).version == 2)
    }
    assertWithin("append", relative(root, listed), boundAppend)
    assert(GraftStore.readStore(spark, root).count() == 25)
  }

  test("a retention commit stays within its pinned listing counts") {
    val (root, _) = store("retentionlist")
    val listed = ListingCountFs.during {
      assert(Retention.enforceHive(spark, root, "2024-01-16").size == 3)
    }
    assertWithin("retention", relative(root, listed), boundRetention)
    assert(GraftStore.readStore(spark, root).count() == 12)
  }

  test("an add-column commit stays within its pinned listing counts") {
    val (root, _) = store("addcollist")
    val listed = ListingCountFs.during {
      assert(SchemaEvolution.addColumn(spark, root, "lang", "string", parts) == 2)
    }
    assertWithin("add-column", relative(root, listed), boundAddColumn)
    assert(GraftStore.readStore(spark, root).count() == 24)
  }

  test("a compaction commit stays within its pinned listing counts") {
    val (root, _) = store("compactlist")
    // one-row files: one partition is dirty
    appendRaw(Seq.tabulate(3)(i => ("dev", "ns1", "2024-01-15", s"x$i"))
      .toDF("cluster", "namespace", "date", "message"), root, parts, maxRecordsPerFile = 1)
    val listed = ListingCountFs.during {
      Compaction.compactHive(spark, root, partitionCols = parts)
    }
    assertWithin("compaction", relative(root, listed), boundCompaction)
    assert(GraftStore.currentVersion(spark, root) == 2)
    assert(GraftStore.readStore(spark, root).count() == 27)
  }
}
