package graft

import java.net.URI
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import graft.fs.{GraftLocalFileSystem, GraftLocalFs}
import graft.logs._
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.fs.{FileContext, FileSystem, FilterFileSystem, RawLocalFileSystem}

/** Local-disk writes start no process: Hadoop's `RawLocalFileSystem`
  * without its native library runs `chmod` per file create and mkdir and
  * `readlink` per `FileContext` rename, and the `file:` binding of the
  * session replaces both with syscalls. Checked with JFR's
  * `jdk.ProcessStart` events over every write path of a store: an append
  * commit, stream micro-batches (checkpoint logs, sink commits) and a
  * compaction.
  */
class LocalDiskForkSpec extends SparkSpec {

  /** Commands of the processes the JVM starts while `body` runs. */
  private def processStarts(body: => Unit): Seq[String] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try body finally rec.stop()
    val out = Files.createTempFile("graft-forks", ".jfr")
    try {
      rec.dump(out)
      RecordingFile.readAllEvents(out).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(_.getString("command"))
    } finally { rec.close(); Files.delete(out) }
  }

  test("the session binds file: to graft's local filesystem for both Hadoop APIs") {
    val hc = spark.sparkContext.hadoopConfiguration
    val fs = FileSystem.get(URI.create("file:///"), hc)
    assert(fs.getClass == classOf[GraftLocalFileSystem])
    // what GraftStore.atomicWriteBytes renames local metadata objects through
    assert(fs.asInstanceOf[FilterFileSystem].getRawFileSystem.isInstanceOf[RawLocalFileSystem])
    assert(FileContext.getLocalFSFileContext(hc).getDefaultFileSystem.getClass ==
      classOf[GraftLocalFs])
  }

  test("an append commit, two stream micro-batches and a compaction fork no file tool") {
    val work = Files.createTempDirectory("graft-forks")
    val in = work.resolve("varlog")
    val root = work.resolve("lake").toString
    def put(pod: String, line: String): Unit = {
      val p = in.resolve(s"pods/default_${pod}_u/app/0.log")
      Files.createDirectories(p.getParent)
      Files.writeString(p, line + "\n")
    }
    put("pod-a", "2024-01-15T10:00:00.000000001Z stdout F one")
    val cmds = processStarts {
      val q = LogStreamIngest.startStoreSink(spark, in.toString + "/pods/*/*/*.log",
        root, work.resolve("ckpt").toString, clusterName = "dev",
        triggerInterval = "1 seconds")
      try {
        q.processAllAvailable()
        put("pod-b", "2024-01-15T10:00:01.000000002Z stderr F two")
        q.processAllAvailable()
      } finally q.stop()
      val rows = GraftStore.readStore(spark, root).collect().toSeq
      AppendCommit.commit(spark.createDataFrame(rows.asJava,
        GraftStore.readStore(spark, root).schema), root)
      Compaction.compactHive(spark, root, full = true)
    }
    assert(GraftStore.readStore(spark, root).count() == 4)
    val tools = Set("chmod", "readlink", "ls", "stat")
    val forked = cmds.filter(c => tools.contains(c.trim.split("\\s+").head.split('/').last))
    assert(forked.size == 0, s"file-tool processes, e.g. ${forked.take(3)}")
  }
}
