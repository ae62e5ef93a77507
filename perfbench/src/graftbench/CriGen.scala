package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.SplittableRandom

/** Seeded CRI pod-log generator with its own row-count oracle.
  *
  * Shapes follow the reference's workload generator (FIXTURES.md §A): JSON
  * `{"count":N,"message":...,"ts":...}` lines, one line in ten on stderr,
  * every stderr line in ten of those a stack trace with embedded `\n`
  * escapes, occasional `P` partial lines and marker lines, and a fluent-bit
  * pod directory that ingestion must exclude. Paths carry the labels:
  * `pods/<namespace>_<pod>_<uid>/<container>/<n>.log`.
  *
  * The oracle never goes through Spark or graft: every generated line's
  * (namespace, pod, container, time) is kept in flat arrays and counted
  * directly, so a query's expected row count is independent of the code
  * under test. The same seed gives byte-identical files and counts.
  */
final class CriGen(seed: Long) {
  import CriGen._

  /** 4 namespaces, 25 pods, `app` + `sidecar` containers. */
  val namespaces: Array[String] = Array("default", "payments", "search", "ingest")
  private val topo = new SplittableRandom(seed ^ 0x5eedL)
  val pods: Array[Pod] = Array.tabulate(25) { i =>
    val ns = if (i < 7) 0 else 1 + (i - 7) / 6
    val stem = Seq("api", "web", "worker", "cron", "db")(topo.nextInt(5))
    val name = f"$stem-${i}%02d-${topo.nextInt(1 << 20)}%05x"
    val uid = java.util.UUID.nameUUIDFromBytes(s"$seed/$i".getBytes(UTF_8)).toString
    Pod(ns, name, uid)
  }
  val containers: Array[String] = Array("app", "sidecar")
  /** Number of (pod, container) streams. */
  val streams: Int = pods.length * containers.length

  // Oracle arrays: one entry per ingestible line.
  private var keys = new Array[Int](1 << 16)  // pod * 2 + container
  private var times = new Array[Long](1 << 16)
  private var n = 0
  private var count = 0L
  private val rnd = new SplittableRandom(seed)

  def lines: Int = n

  private def record(key: Int, t: Long): Unit = {
    if (n == keys.length) {
      keys = java.util.Arrays.copyOf(keys, n * 2)
      times = java.util.Arrays.copyOf(times, n * 2)
    }
    keys(n) = key; times(n) = t; n += 1
  }

  def podDir(p: Pod): String = s"pods/${namespaces(p.ns)}_${p.name}_${p.uid}"

  /** Write `total` lines with event times uniform in `[t0, t1)`, spread
    * over every stream, as one file per stream named `<file>.log` under
    * `root`. Also writes a fluent-bit decoy file. Returns bytes written.
    */
  def writeTree(root: Path, total: Int, t0: Long, t1: Long, file: Int): Long = {
    var bytes = 0L
    val perStream = Array.fill(streams)(0)
    var i = 0
    while (i < total) { perStream(rnd.nextInt(streams)) += 1; i += 1 }
    var s = 0
    while (s < streams) {
      val ts = Array.fill(perStream(s))(t0 + rnd.nextLong(t1 - t0))
      java.util.Arrays.sort(ts)
      val p = pods(s / 2)
      val dir = root.resolve(podDir(p)).resolve(containers(s % 2))
      bytes += writeLines(dir.resolve(s"$file.log"), ts, Some(s))
      s += 1
    }
    // the decoy: fluent-bit's own log, excluded by the ingest path regex
    val decoy = root.resolve(s"pods/logging_fluent-bit-${seed & 0xffff}_decoy/fluent-bit")
    val dts = Array.tabulate(total / 200 + 1)(j => t0 + j.toLong * 1000000L)
    bytes += writeLines(decoy.resolve(s"$file.log"), dts, None)
    bytes
  }

  private def writeLines(file: Path, ts: Array[Long], key: Option[Int]): Long = {
    Files.createDirectories(file.getParent)
    val sb = new java.lang.StringBuilder(ts.length * 160)
    ts.foreach { t =>
      count += 1
      val stderr = rnd.nextInt(10) == 0
      val partial = !stderr && rnd.nextInt(50) == 0
      val marker = !stderr && !partial && rnd.nextInt(200) == 0
      sb.append(rfc3339(t)).append(if (stderr) " stderr " else " stdout ")
        .append(if (partial) 'P' else 'F').append(' ')
      if (partial) sb.append("partial line continues")
      else if (marker) sb.append("size-flush-").append(t / 1000000000L)
      else {
        val msg =
          if (stderr && rnd.nextInt(10) == 0)
            "stack trace example\\nError: something failed\\n  at main (app.js:42)\\n  at run (app.js:10)"
          else if (stderr) "warning: slow request"
          else "hello from log-generator"
        sb.append("{\"count\":").append(count).append(",\"message\":\"").append(msg)
          .append("\",\"ts\":\"").append(rfc3339Seconds(t)).append("\"}")
      }
      sb.append('\n')
      key.foreach(k => record(k, t))
    }
    val b = sb.toString.getBytes(UTF_8)
    Files.write(file, b)
    b.length.toLong
  }

  /** Rows a selector (namespace / pod / container, any subset) with an
    * optional `--since` cutoff must return over the first `upto` generated
    * lines, counted from the generated lines alone.
    */
  def expected(ns: Option[Int], pod: Option[Int], container: Option[Int],
      cutoffNs: Long = Long.MinValue, upto: Int = Int.MaxValue): Long = {
    var c = 0L
    var i = 0
    val end = math.min(n, upto)
    while (i < end) {
      val k = keys(i)
      val p = k >> 1
      if ((ns.isEmpty || pods(p).ns == ns.get) && (pod.isEmpty || p == pod.get) &&
        (container.isEmpty || (k & 1) == container.get) && times(i) >= cutoffNs) c += 1
      i += 1
    }
    c
  }
}

object CriGen {
  final case class Pod(ns: Int, name: String, uid: String)

  /** Fixed anchor: event time ends at 2024-01-17T00:00:00Z. */
  val anchorNs: Long = 1705449600L * 1000000000L
  val hourNs: Long = 3600L * 1000000000L

  private val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss")
    .withZone(java.time.ZoneOffset.UTC)

  def rfc3339Seconds(ns: Long): String =
    fmt.format(java.time.Instant.ofEpochSecond(ns / 1000000000L)) + "Z"

  def rfc3339(ns: Long): String =
    fmt.format(java.time.Instant.ofEpochSecond(ns / 1000000000L)) + "." +
      f"${ns % 1000000000L}%09d" + "Z"

  /** Publish every file under `staged` into `tree` by atomic rename, so a
    * watcher never sees a half-written file.
    */
  def publish(staged: Path, tree: Path): Unit = {
    val files = Files.walk(staged).filter(Files.isRegularFile(_)).toArray.map(_.asInstanceOf[Path])
      .sortBy(_.toString).toSeq
    files.foreach { f =>
      val dest = tree.resolve(staged.relativize(f))
      Files.createDirectories(dest.getParent)
      Files.move(f, dest, StandardCopyOption.ATOMIC_MOVE)
    }
  }

  /** kubelet-style rotation: keep the newest `keep` `<n>.log` files per
    * container directory, delete the rest.
    */
  def rotate(tree: Path, keep: Int): Unit = {
    val dirs = Files.walk(tree).filter(Files.isDirectory(_)).toArray.map(_.asInstanceOf[Path])
    dirs.foreach { d =>
      val logs = Option(d.toFile.listFiles()).getOrElse(Array.empty)
        .filter(f => f.isFile && f.getName.endsWith(".log"))
        .sortBy(_.getName.stripSuffix(".log").toInt)
      logs.dropRight(keep).foreach(_.delete())
    }
  }
}
