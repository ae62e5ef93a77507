package graft

import graft.logs.{AppendCommit, Compaction, GraftStore, LogIngest, Retention}
import org.apache.hadoop.fs.{FSDataOutputStream, FilterFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import java.nio.file.Files

/** The local filesystem under the `crashfs:` scheme, except that while
  * [[PointerCrashFs.armed]] every stream created for the store pointer
  * (`_current`, or a temp file named after it) throws on its first write —
  * a process dying between opening the pointer and writing it. A plain
  * `create(overwrite)` has already truncated the file at that point. The
  * raw local FS underneath is what the store renames through, so the
  * pointer write takes the same path as on `file:` stores.
  */
class PointerCrashFs extends FilterFileSystem(new RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("crashfs:///")
  override def getScheme: String = "crashfs"
}) {
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    val out = super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
    if (!PointerCrashFs.armed || !f.getName.startsWith(GraftStore.PointerName)) out
    else new FSDataOutputStream(new java.io.OutputStream {
      override def write(b: Int): Unit =
        throw new java.io.IOException(s"injected crash writing $f")
      override def close(): Unit = out.close()
    }, null)
  }
}

object PointerCrashFs {
  @volatile var armed = false
}

/** A crash at the pointer flip — the one mutation that publishes a commit —
  * must leave the old snapshot live and readable, and the next commit must
  * land on top of it. Every store change flips the pointer this way: an
  * append, a compaction and a retention commit are each checked here.
  */
class PointerFlipCrashSpec extends SparkSpec {
  import spark.implicits._

  private val parts = Seq("cluster", "namespace", "date")

  private def rows(date: String, msgs: String*) =
    msgs.map(m => ("dev", "ns0", date, m)).toDF("cluster", "namespace", "date", "message")

  /** A fresh store root on the `crashfs:` scheme. */
  private def crashRoot(tag: String): String = {
    spark.sparkContext.hadoopConfiguration
      .set("fs.crashfs.impl", classOf[PointerCrashFs].getName)
    "crashfs://" + Files.createTempDirectory(s"graft-$tag").resolve("store").toString
  }

  /** Runs `op` with the pointer write armed to crash; it must fail there. */
  private def crashAtFlip(op: => Any): Unit = {
    PointerCrashFs.armed = true
    val e =
      try intercept[java.io.IOException](op)
      finally PointerCrashFs.armed = false
    assert(e.getMessage.contains("injected crash"))
  }

  private def messages(root: String): Seq[String] =
    GraftStore.readStore(spark, root).select($"message").as[String].collect().sorted.toSeq

  test("a crash inside the pointer write leaves the old snapshot live and readable") {
    val root = crashRoot("ptrcrash")
    LogIngest.writeHive(rows("2024-01-15", "a", "b", "c"), root, partitionCols = parts)
    assert(GraftStore.currentVersion(spark, root) == 1)

    crashAtFlip(AppendCommit.commit(rows("2024-01-15", "d", "e"), root, parts))
    // the flip never happened: v1 is still named live and reads whole
    assert(GraftStore.currentVersion(spark, root) == 1)
    assert(messages(root) == Seq("a", "b", "c"))

    // the next commit sweeps the crashed attempt's staged version and lands
    val c = AppendCommit.commit(rows("2024-01-15", "f"), root, parts)
    assert(c.version == 2 && !c.replayed)
    assert(GraftStore.readStore(spark, root).count() == 4)
  }

  test("a crash inside compaction's pointer write leaves the old snapshot live; a re-run commits") {
    val root = crashRoot("compactcrash")
    LogIngest.writeHive(rows("2024-01-15", "a", "b", "c"), root, partitionCols = parts)
    // one-row files: the partition is dirty
    appendRaw(rows("2024-01-15", "d", "e", "f"), root, parts, maxRecordsPerFile = 1)
    val all = Seq("a", "b", "c", "d", "e", "f")

    crashAtFlip(Compaction.compactHive(spark, root, partitionCols = parts))
    assert(GraftStore.currentVersion(spark, root) == 1)
    assert(messages(root) == all)

    // the re-run finds the staged, verified v2 and publishes it
    Compaction.compactHive(spark, root, partitionCols = parts)
    assert(GraftStore.currentVersion(spark, root) == 2)
    assert(messages(root) == all)
    assert(GraftStore.compositeEntries(spark, root, 2).size == 1)
  }

  test("a crash inside retention's pointer write leaves the old snapshot live; a re-run commits") {
    val root = crashRoot("retcrash")
    LogIngest.writeHive(rows("2024-01-14", "a", "b").unionByName(rows("2024-01-15", "c")),
      root, partitionCols = parts)

    crashAtFlip(Retention.enforceHive(spark, root, "2024-01-15"))
    assert(GraftStore.currentVersion(spark, root) == 1)
    assert(messages(root) == Seq("a", "b", "c"))

    // the re-run sweeps the crashed attempt's staged version and commits
    val dropped = Retention.enforceHive(spark, root, "2024-01-15")
    assert(dropped.size == 1 && dropped.head.contains("date=2024-01-14"))
    assert(GraftStore.currentVersion(spark, root) == 2)
    assert(messages(root) == Seq("c"))
    assert(GraftStore.readVersion(spark, root, 1).count() == 3)
  }

  test("racing creators of one fresh local store both succeed") {
    val base = Files.createTempDirectory("graft-initrace")
    for (i <- 1 to 8) {
      val root = base.resolve(s"store$i").toString
      val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val start = new java.util.concurrent.CountDownLatch(1)
      val threads = (1 to 2).map { _ =>
        new Thread(() => {
          start.await()
          try LogIngest.ensureStore(spark, root)
          catch { case t: Throwable => errors.add(t) }
        })
      }
      threads.foreach(_.start()); start.countDown(); threads.foreach(_.join())
      assert(errors.isEmpty, s"a racing creator failed: ${errors.peek()}")
      assert(GraftStore.currentVersion(spark, root) == 1)
      // every creator renamed its own temp file into place
      assert(Files.list(java.nio.file.Paths.get(root)).toArray.map(_.toString)
        .forall(n => !n.endsWith(".tmp")))
    }
  }
}
