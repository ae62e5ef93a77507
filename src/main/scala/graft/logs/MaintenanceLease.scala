package graft.logs

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths, StandardOpenOption}

/** Mutual exclusion for store maintenance (compaction, retention, vacuum).
  *
  * The commit protocol ([[GraftStore.commit]]) is atomic against READERS,
  * but two concurrent committers on one root could both stage the next
  * version and race the pointer flip — or one could sweep the other's
  * staged version as crash debris.
  * A lease object acquired with an if-absent create closes that: exactly
  * one maintainer holds the root at a time; a second aborts fast and
  * cleanly before touching anything.
  *
  * Lease placement: inside the root (`_maintenance-lease`, `_`-prefix keeps
  * it out of Spark listings) — a single-object create-if-absent, which
  * [[graft.sources.S3LiteFileSystem]] honors with a HEAD-then-PUT. The
  * root is a store, a materialized view, or a dedup-state lock directory;
  * it is created when missing. On `file:` roots the acquire uses
  * `Files.createFile` (atomic CREATE_NEW at the syscall level) rather than
  * Hadoop's check-then-create.
  *
  * A crashed maintainer leaves its lease behind — deliberately: the lease
  * names the holder and acquire time, and the operator breaks it explicitly
  * (`AdminCli break-lease`) after confirming the job is dead. Auto-expiry
  * would trade a visible stall for a silent double-commit.
  *
  * OBJECT-STORE CAVEAT: on non-`file:` schemes, Hadoop's
  * `create(p, overwrite=false)` is check-then-put, not a conditional PUT —
  * two maintainers racing within the HEAD/PUT window can BOTH acquire. The
  * lease there is best-effort contention avoidance, not the safety
  * mechanism: correctness still rests on the staged-version + single-PUT
  * pointer flip protocol (a double commit serializes on the flip; the
  * loser's staged prefix becomes debris, never a torn store). On stores
  * with conditional writes (S3 `If-None-Match`, GCS preconditions) a
  * vendor `FileSystem` whose `create(overwrite=false)` maps to them makes
  * the lease exact with no code change here.
  */
object MaintenanceLease {

  def leasePath(root: String): Path = new Path(root, "_maintenance-lease")

  final class LeaseHeldException(msg: String) extends IllegalStateException(msg)

  def withLease[T](spark: SparkSession, root: String, op: String)(f: => T): T = {
    val p = acquire(spark, root, op)
    try f finally release(spark, p)
  }

  /** Lease acquisition with bounded linear-backoff retry — for WRITER
    * publishes, which are short metadata-only critical sections expected to
    * queue behind maintenance and each other rather than fail fast (a
    * compaction holding the root for minutes should stall appends, not kill
    * them). Maintenance itself keeps the fail-fast `withLease`: two
    * long-running maintainers queuing silently is an operational smell.
    */
  def withLeaseRetry[T](spark: SparkSession, root: String, op: String,
      attempts: Int = 10, backoffMs: Long = 200)(f: => T): T = {
    var i = 0
    while (true) {
      try return withLease(spark, root, op)(f)
      catch {
        case e: LeaseHeldException =>
          i += 1
          if (i >= attempts) throw e
          Thread.sleep(backoffMs * i)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  private def acquire(spark: SparkSession, root: String, op: String): Path = {
    val p = leasePath(root)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val payload =
      s"$op pid=${ProcessHandle.current().pid()} since=${java.time.Instant.now()}"
    def held(): Nothing = {
      val holder =
        try {
          val in = fs.open(p)
          try new String(org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
          finally in.close()
        } catch { case scala.util.control.NonFatal(_) => "<unreadable>" }
      throw new LeaseHeldException(
        s"maintenance lease on $root is held ($holder); a concurrent " +
          "compaction/retention/vacuum is running. If that job crashed, " +
          "break the lease explicitly: AdminCli break-lease --root=" + root)
    }
    val scheme = Option(p.toUri.getScheme).getOrElse("file")
    try {
      if (scheme == "file") {
        val nio = Paths.get(p.toUri.getPath)
        Files.createDirectories(nio.getParent)
        Files.write(nio, payload.getBytes("UTF-8"), StandardOpenOption.CREATE_NEW,
          StandardOpenOption.WRITE)
      } else {
        val out = fs.create(p, false) // if-absent create: throws when held
        try out.write(payload.getBytes("UTF-8")) finally out.close()
      }
    } catch {
      case _: java.nio.file.FileAlreadyExistsException => held()
      case _: org.apache.hadoop.fs.FileAlreadyExistsException => held()
      case e: java.io.IOException if e.getMessage != null &&
          e.getMessage.contains("already exists") => held()
    }
    p
  }

  private def release(spark: SparkSession, p: Path): Unit =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, false)

  /** Operator escape hatch for a lease left by a crashed job. Returns true
    * when a lease existed and was removed.
    */
  def breakLease(spark: SparkSession, root: String): Boolean = {
    val p = leasePath(root)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, false)
  }
}
