package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.execution.datasources.InMemoryFileIndex

/** The session lists up to 1024 root paths on the driver
  * (`GraftSession.configure`). A file stream source expands a CRI tail's
  * glob on the driver, then lists the files it names; on an object store
  * those can be a thousand. Listed on the driver, they must come back the
  * same as through Spark's parallel listing job.
  *
  * The times are reported, not asserted: they depend on the store's
  * per-request latency. The driver lists serially, one request after
  * another; a listing job spreads the paths over the executor cores but
  * pays a task per path. Slow (about 4 minutes): the glob expansion, which
  * is serial on the driver at any threshold, issues thousands of requests
  * to the stub.
  */
@org.scalatest.tags.Slow
class ObjectStoreListingSpec extends SparkSpec {

  test("a 1000-dir CRI glob on an object store lists the same files on the driver") {
    val srv = new graft.sources.S3StubServer()
    try {
      val hc = spark.sparkContext.hadoopConfiguration
      hc.set("fs.s3l.impl", classOf[graft.sources.S3LiteFileSystem].getName)
      hc.set("fs.s3l.endpoint", srv.endpoint)
      hc.set("fs.s3l.impl.disable.cache", "true")
      val root = "s3l://graft-listing/varlog"
      val fs = new Path(root).getFileSystem(hc)
      val pods = 1000
      (0 until pods).foreach { i =>
        val out = fs.create(new Path(s"$root/pods/ns${i % 8}_pod-${i}_u$i/app/0.log"))
        try out.write(s"2024-01-15T10:00:00.000000001Z stdout F line $i\n".getBytes("UTF-8"))
        finally out.close()
      }
      def timed[A](body: => A): (A, Double) = {
        val t0 = System.nanoTime()
        val a = body
        (a, (System.nanoTime() - t0) / 1e6)
      }
      val (globbed, globMs) =
        timed(fs.globStatus(new Path(s"$root/pods/*/*/*.log")).map(_.getPath).toSeq)
      assert(globbed.size == pods)
      val key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
      def listed(threshold: Int): (Set[String], Double) =
        ConfScope.withSessionConf(spark, key -> threshold.toString) { s =>
          timed(new InMemoryFileIndex(s, globbed, Map.empty, None)
            .allFiles().map(_.getPath.toString).toSet)
        }
      val (onDriver, driverMs) = listed(1024)
      val (inJob, jobMs) = listed(32)
      assert(onDriver.size == pods)
      assert(onDriver == inJob)
      info(f"glob over $pods pod dirs: $globMs%.0f ms on the driver; its $pods files " +
        f"listed on the driver in $driverMs%.0f ms, by a Spark listing job in $jobMs%.0f ms")
    } finally srv.stop()
  }
}
