package graft

import graft.logs.{AppendCommit, Compaction, GraftStore, LogIngest, MaintenanceLease, Retention}
import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import java.nio.file.{Files, Paths}

/** The local filesystem under the `crashfs:` scheme, with injected crashes.
  * While a rule is armed ([[CrashFs.arm]]), every driver-side create,
  * rename and delete asks it whether to crash. A crashing create still
  * opens (and so truncates) the file, then throws on the first write — a
  * process dying between opening an object and writing it; a crashing
  * rename or delete throws before it changes anything. The store renames
  * metadata objects through this raw filesystem, as on `file:` stores.
  */
class CrashFs extends RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("crashfs:///")
  override def getScheme: String = "crashfs"

  override protected def createOutputStreamWithMode(f: Path, append: Boolean,
      permission: FsPermission): java.io.OutputStream = {
    val out = super.createOutputStreamWithMode(f, append, permission)
    if (!CrashFs.crashes("create", f)) out
    else new java.io.OutputStream {
      override def write(b: Int): Unit = throw CrashFs.crash("create", f)
      override def close(): Unit = { out.close(); throw CrashFs.crash("create", f) }
    }
  }

  override def rename(src: Path, dst: Path): Boolean = {
    if (CrashFs.crashes("rename", src)) throw CrashFs.crash("rename", src)
    super.rename(src, dst)
  }

  override def delete(f: Path, recursive: Boolean): Boolean = {
    if (CrashFs.crashes("delete", f)) throw CrashFs.crash("delete", f)
    super.delete(f, recursive)
  }
}

object CrashFs {
  /** Whether mutation `(op, path)` crashes; the count is the number of
    * driver-side mutations since the data staging finished (its job commit
    * wrote `_SUCCESS`), this one included, and 0 before.
    */
  type Rule = (String, Path, Int) => Boolean

  @volatile private var rule: Option[Rule] = None
  private var staged = false
  private val seen = scala.collection.mutable.ArrayBuffer.empty[String]

  def arm(r: Rule): Unit = synchronized { staged = false; seen.clear(); rule = Some(r) }
  def disarm(): Unit = rule = None

  /** The mutations counted since the staging, in order. */
  def trace: Seq[String] = synchronized(seen.toList)

  private[graft] def crashes(op: String, p: Path): Boolean = synchronized {
    rule.exists { r =>
      // executor task threads write the staged data files
      if (Thread.currentThread.getName.startsWith("Executor task launch worker")) false
      else {
        if (staged) seen += s"$op ${p.getName.replaceAll("[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}", "*")}"
        else if (op == "create" && p.getName == "_SUCCESS") staged = true
        r(op, p, seen.size)
      }
    }
  }

  private[graft] def crash(op: String, p: Path) =
    new java.io.IOException(s"injected crash at $op $p")
}

/** A crash at any filesystem mutation of a commit must leave the old
  * snapshot or the new one live and readable, and the next commit must
  * land on top of it. The first tests crash the pointer flip — the one
  * mutation that publishes a commit — of an append, a compaction and a
  * retention commit; the enumeration tests crash each mutation after the
  * data staging of an append and of a compaction in turn.
  */
class PointerFlipCrashSpec extends SparkSpec {
  import spark.implicits._

  private val parts = Seq("cluster", "namespace", "date")

  private def rows(date: String, msgs: String*) =
    msgs.map(m => ("dev", "ns0", date, m)).toDF("cluster", "namespace", "date", "message")

  private def crashDir(tag: String): java.nio.file.Path = {
    spark.sparkContext.hadoopConfiguration.set("fs.crashfs.impl", classOf[CrashFs].getName)
    Files.createTempDirectory(s"graft-$tag").resolve("store")
  }

  /** A fresh store root on the `crashfs:` scheme. */
  private def crashRoot(tag: String): String = "crashfs://" + crashDir(tag)

  /** Runs `op` with the pointer write armed to crash; it must fail there. */
  private def crashAtFlip(op: => Any): Unit = {
    CrashFs.arm((op, p, _) => op == "create" && p.getName.startsWith(GraftStore.PointerName))
    val e =
      try intercept[java.io.IOException](op)
      finally CrashFs.disarm()
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

    // the re-run sweeps the crashed attempt's staged v2 and commits its own
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

  /** Copies the store at local path `seed` to a fresh `crashfs:` root. */
  private def copyOf(seed: java.nio.file.Path, tag: String): String = {
    val dest = crashDir(tag)
    val walk = Files.walk(seed)
    try walk.forEach(p => Files.copy(p, dest.resolve(seed.relativize(p).toString)))
    finally walk.close()
    "crashfs://" + dest
  }

  /** Crashes `op` at its k-th mutation after the data staging, for every k,
    * each on a fresh copy of the store at `seed` (live version `from`
    * holding `before`). After each crash — the dead writer's lease broken,
    * as an operator does — the store must read as version `from` with
    * `before` or as `from + 1` with `after`; re-running `op` must then
    * leave it at `from + 1` with `after`, and nothing staged ahead.
    */
  private def crashEverywhere(seed: java.nio.file.Path, tag: String, from: Int,
      before: Seq[String], after: Seq[String])(op: String => Any): Unit = {
    val dry = copyOf(seed, s"$tag-dry")
    CrashFs.arm((_, _, _) => false)
    try op(dry) finally CrashFs.disarm()
    val mutations = CrashFs.trace
    assert(mutations.nonEmpty)
    info(s"${mutations.size} mutations after staging: ${mutations.mkString(", ")}")
    assert(GraftStore.currentVersion(spark, dry) == from + 1 && messages(dry) == after)
    mutations.indices.map(_ + 1).foreach { k =>
      val root = copyOf(seed, s"$tag-$k")
      val at = s"crash at mutation $k of ${mutations.size} (${mutations(k - 1)})"
      CrashFs.arm((_, _, n) => n >= k)
      val failed =
        try { op(root); None }
        catch { case e: Exception => Some(e) }
        finally CrashFs.disarm()
      assert(failed.isDefined, s"$at: the operation did not fail")
      MaintenanceLease.breakLease(spark, root)
      val live = GraftStore.currentVersion(spark, root)
      assert((live, messages(root)) == (from, before) || (live, messages(root)) == (from + 1, after),
        s"$at: read v$live ${messages(root)}")
      op(root)
      val names = Files.list(Paths.get(new Path(root).toUri.getPath)).toArray
        .map(_.asInstanceOf[java.nio.file.Path].getFileName.toString).sorted.toSeq
      assert(GraftStore.currentVersion(spark, root) == from + 1 && messages(root) == after,
        s"$at: the re-run left v${GraftStore.currentVersion(spark, root)}; root holds $names")
      assert(GraftStore.listVersions(spark, root).max == from + 1, s"$at: root holds $names")
      assert(!names.contains("_maintenance-lease"), s"$at: root holds $names")
    }
  }

  /** A store whose live v2 is a compaction of v1's small files, with a
    * second partition carried from v1.
    */
  private def seedStore(tag: String): java.nio.file.Path = {
    val dir = crashDir(tag)
    val root = "crashfs://" + dir
    LogIngest.writeHive(rows("2024-01-15", "a", "b", "c").unionByName(rows("2024-01-16", "x")),
      root, partitionCols = parts)
    appendRaw(rows("2024-01-15", "d", "e", "f"), root, parts, maxRecordsPerFile = 1)
    Compaction.compactHive(spark, root, partitionCols = parts)
    assert(GraftStore.currentVersion(spark, root) == 2)
    dir
  }

  test("a crash at any mutation of an append commit leaves the old or the new snapshot") {
    val seed = seedStore("appendseed")
    val before = Seq("a", "b", "c", "d", "e", "f", "x")
    // the commit id makes a re-run after a published crash a replay
    crashEverywhere(seed, "appendcrash", 2, before, (before ++ Seq("g", "h")).sorted) { root =>
      AppendCommit.commit(rows("2024-01-15", "g", "h"), root, parts,
        commitId = Some("crash-append"))
    }
  }

  test("a crash at any mutation of a compaction commit leaves the old or the new snapshot") {
    val seed = seedStore("compactseed")
    val seedRoot = "crashfs://" + seed
    // one-row files in a staged-append holder: the partition is dirty again
    AppendCommit.commit(rows("2024-01-15", "g", "h", "i"), seedRoot, parts, maxRecordsPerFile = 1)
    val all = Seq("a", "b", "c", "d", "e", "f", "g", "h", "i", "x")
    // retain 0: the commit's reclaim deletes the replaced versions too
    crashEverywhere(seed, "compactcrash", 3, all, all) { root =>
      Compaction.compactHive(spark, root, partitionCols = parts, retainSnapshots = 0)
    }
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
