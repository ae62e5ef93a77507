package graft

import org.apache.spark.sql.SparkSession
import java.util.concurrent.{Executors, TimeUnit}

/** Benchmark main (driver contract): runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and prints one JSON line (plus a short summary line
  * LAST so bounded tail capture always yields a parsable total).
  *
  * Queries execute through the `noop` sink (full plan execution including
  * projections — a bare `.count()` lets Catalyst prune the work away) on a
  * small thread pool: Spark schedules concurrent jobs fairly, so short
  * queries fill the cores a long query leaves idle — the realistic
  * multi-tenant throughput shape. `value` is the wall-clock for the whole
  * set; per-query numbers are each query's own span (including pool queue
  * time — they are throughput diagnostics, not isolated latencies).
  *
  * After the concurrent round a SEQUENTIAL round runs (pool of 1, tables
  * already cache-warm) and prints `{"metric":"sequential",...}`: each span
  * there is an isolated query latency with no scheduler contention, so
  * per-query regressions are attributable from the artifact alone — the
  * concurrent map alone made contention look like regressions twice
  * (r02, r04). The headline `total` stays the concurrent wall.
  *
  * `SPARK_GRAFT_BENCH_REPEAT=2` adds a second, warm concurrent round — its
  * per-query map is printed as a separate `{"metric":"warm",...}` line
  * (the headline `total` stays the first round for cross-round
  * comparability). All rounds are cache-warm/JVM-cold on round one: the
  * warmup below materializes the columnar table cache before any timing.
  */
object Bench {

  /** One full concurrent round. Returns (wall seconds, name → seconds with
    * -1.0 for failed/hung, finishedCleanly). The snapshot is immutable and
    * taken after shutdownNow, so a late-finishing task can never contradict
    * the derived failed list.
    */
  /** Optional name-prefix filter (`SPARK_GRAFT_BENCH_FILTER=q,t1`) for
    * family-scoped experiments — the driver contract never sets it, so
    * official rounds always time the full set.
    */
  private def selectedQueries: Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)] = {
    val all = SparkEntry.queries.toSeq.sortBy(_._1)
    sys.env.get("SPARK_GRAFT_BENCH_FILTER") match {
      case Some(f) =>
        val prefixes = f.split(',').map(_.trim).filter(_.nonEmpty)
        all.filter { case (n, _) => prefixes.exists(n.startsWith) }
      case None => all
    }
  }

  private def runRound(spark: SparkSession, sfDir: String,
      parallel: Int): (Double, Map[String, Double], Boolean) = {
    val pool = Executors.newFixedThreadPool(parallel)
    val results = new java.util.concurrent.ConcurrentHashMap[String, Double]()
    val t0 = System.nanoTime()
    selectedQueries.foreach { case (name, fn) =>
      pool.submit(new Runnable {
        def run(): Unit = {
          val q0 = System.nanoTime()
          try {
            fn(spark, sfDir).write.format("noop").mode("overwrite").save()
            results.put(name, (System.nanoTime() - q0) / 1e9)
          } catch { case e: Throwable =>
            // a failed query must be visible in the JSON, not a fast "pass"
            results.put(name, -1.0)
            System.err.println(s"[bench] $name failed: ${e.getMessage}")
          }
        }
      })
    }
    pool.shutdown()
    // 30 min covers the driver's sf0.1 contract with 30× headroom; large-SF
    // rehearsals (sf100 runs a 22-query family sequentially) raise it via env
    val capMin = sys.env.getOrElse("SPARK_GRAFT_BENCH_TIMEOUT_MIN", "30").toLong
    val finished = pool.awaitTermination(capMin, TimeUnit.MINUTES)
    if (!finished) {
      System.err.println(s"[bench] TIMEOUT: not all queries completed in ${capMin}min")
      pool.shutdownNow() // interrupt stragglers so the snapshot below is final
    }
    val wall = (System.nanoTime() - t0) / 1e9
    import scala.jdk.CollectionConverters._
    val snapshot: Map[String, Double] = selectedQueries.map { case (n, _) =>
      n -> results.asScala.getOrElse(n, -1.0)
    }.toMap
    (wall, snapshot, finished)
  }

  private def queriesJson(snapshot: Map[String, Double]): String =
    snapshot.toSeq.sortBy(_._1)
      .map { case (n, t) => "\"" + n + "\":" + t }.mkString("{", ",", "}")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val parallel = sys.env.getOrElse("SPARK_GRAFT_BENCH_PARALLEL", "6").toInt
    val repeat = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPEAT", "1").toInt
    val spark = GraftSession.local("graft-bench")
    // ERROR, not WARN: stray WARN lines between the JSON lines push the
    // sequential map out of the driver's bounded tail capture (r06)
    spark.sparkContext.setLogLevel("ERROR")
    // untimed warmup: session/codegen/FS init should not bill the first
    // query, and the base tables sit in Spark's in-memory columnar cache
    // (steady-state serving shape)
    Tables.warm(spark, sfDir)

    val (wall, snapshot, finished) = runRound(spark, sfDir, parallel)
    val failedNames = snapshot.collect { case (n, t) if t == -1.0 => n }.toSeq.sorted
    val failedJson = failedNames.map(n => "\"" + n + "\"").mkString("[", ",", "]")
    // Full line first; then (optionally) warm rounds; the short summary line
    // goes LAST so a bounded tail capture always sees a complete JSON object
    // with the total (BENCH_r02 lost its head to tail truncation).
    println(s"""{"metric":"total","value":$wall,"unit":"sec","queries":${queriesJson(snapshot)},"failed":$failedJson,"sf":"$sfDir"}""")
    var allFinished = finished
    val allFailed = scala.collection.mutable.SortedSet(failedNames: _*)
    // held back and re-printed immediately before the final summary line, so
    // the driver's bounded TAIL capture always contains the sequential map
    // (r06's was pushed out by interleaved log lines)
    var sequentialLine: Option[String] = None
    // PARALLEL=1 already ran sequentially; at rehearsal scales the extra
    // warm round doubles a multi-hour run for near-identical numbers, so
    // family runners skip it (the driver contract never sets either env,
    // so official rounds keep both rounds)
    val skipSeq = parallel == 1 &&
      sys.env.get("SPARK_GRAFT_BENCH_NOSEQ").contains("1")
    if (finished && !skipSeq) {
      // isolated per-query latencies (cache-warm, no concurrency): the
      // regression-attribution map VERDICT r04 asked for
      val (seqWall, seqSnap, seqFinished) = runRound(spark, sfDir, 1)
      allFinished &= seqFinished
      allFailed ++= seqSnap.collect { case (n, t) if t == -1.0 => n }
      sequentialLine = Some(
        s"""{"metric":"sequential","value":$seqWall,"unit":"sec","queries":${queriesJson(seqSnap)},"sf":"$sfDir"}""")
      sequentialLine.foreach(println)
      // v4 split: the gate times build+search together, but at 100 TB the
      // index BUILD is a batch job and SEARCH is the query — time them
      // apart so the search span reflects its pruned-cell scan
      if (sys.env.contains("SPARK_GRAFT_BENCH_FILTER")) () else try {
        val b0 = System.nanoTime()
        val idx = graft.queries.ExtensionQueries.ivfIndexBuild(spark, sfDir)
        val bSec = (System.nanoTime() - b0) / 1e9
        val s0 = System.nanoTime()
        graft.queries.ExtensionQueries.ivfIndexSearch(spark, sfDir, idx)
          .write.format("noop").mode("overwrite").save()
        val sSec = (System.nanoTime() - s0) / 1e9
        println(s"""{"metric":"v4_split","queries":{"v4_build":$bSec,"v4_search":$sSec},"unit":"sec","sf":"$sfDir"}""")
        // v9 likewise: the IVF-PQ build trains two quantizers and writes
        // coded cells (batch); the search is a pruned code-only scan
        val pb0 = System.nanoTime()
        val pqIdx = graft.queries.ExtensionQueries.ivfPqIndexBuild(spark, sfDir)
        val pbSec = (System.nanoTime() - pb0) / 1e9
        val ps0 = System.nanoTime()
        graft.queries.ExtensionQueries.ivfPqIndexSearch(spark, sfDir, pqIdx)
          .write.format("noop").mode("overwrite").save()
        val psSec = (System.nanoTime() - ps0) / 1e9
        println(s"""{"metric":"v9_split","queries":{"v9_build":$pbSec,"v9_search":$psSec},"unit":"sec","sf":"$sfDir"}""")
      } catch { case scala.util.control.NonFatal(e) =>
        // fatal errors (OOM) must kill the bench — timing a corrupted JVM
        // would emit misleading artifacts
        System.err.println(s"[bench] v4/v9 split failed: ${e.getMessage}")
      }
    }
    // Untimed quality-gate sweep (VERDICT r12 #6): re-evaluate every query
    // whose output schema carries a boolean `*_ok` column and fail the bench
    // if any is false at THIS scale factor — the oracle only checks the
    // booleans at the driver's sf0.01, which is how the r12 ANN recall
    // degradation stayed invisible. Runs after all timed rounds (cache-warm,
    // adds no contention to any timed span); `SPARK_GRAFT_BENCH_GATES=0`
    // skips it for rehearsal-scale family runs where the re-execution is
    // hours, not seconds.
    if (finished && !sys.env.get("SPARK_GRAFT_BENCH_GATES").contains("0")) {
      val gateFailed = scala.collection.mutable.SortedSet[String]()
      selectedQueries.foreach { case (name, fn) =>
        try {
          val df = fn(spark, sfDir)
          val hasGate = df.schema.fields.exists(f =>
            f.name.endsWith("_ok") &&
              f.dataType == org.apache.spark.sql.types.BooleanType)
          if (hasGate) {
            val bad = graft.tools.Gates.violations(df)
            if (bad.nonEmpty) {
              gateFailed += name
              System.err.println(
                s"[bench] $name GATE FAILED: ${bad.mkString(",")} false/null")
            }
          }
        } catch { case scala.util.control.NonFatal(e) =>
          gateFailed += name
          System.err.println(s"[bench] $name gate sweep failed: ${e.getMessage}")
        }
      }
      val gateJson = gateFailed.map(n => "\"" + n + "\"").mkString("[", ",", "]")
      println(s"""{"metric":"gates","failed":$gateJson,"sf":"$sfDir"}""")
      allFailed ++= gateFailed
      allFinished &= gateFailed.isEmpty
    }
    if (finished) (2 to repeat).foreach { r =>
      val (warmWall, warmSnap, warmFinished) = runRound(spark, sfDir, parallel)
      allFinished &= warmFinished
      allFailed ++= warmSnap.collect { case (n, t) if t == -1.0 => n }
      println(s"""{"metric":"warm","round":$r,"value":$warmWall,"unit":"sec","queries":${queriesJson(warmSnap)},"sf":"$sfDir"}""")
    }
    // catalog-residue hygiene (r14 verdict #4): gate queries register
    // per-run-unique external tables and must drop them — leftovers here
    // mean a finally block was skipped or a name leaked
    val residue = spark.catalog.listTables().collect().map(_.name).sorted
    if (residue.nonEmpty)
      System.err.println(s"[bench] CATALOG RESIDUE: ${residue.mkString(",")}")
    println(s"""{"metric":"catalog_residue","value":${residue.length},"sf":"$sfDir"}""")
    // the summary line unions failures across ALL rounds: exiting 1 while the
    // machine-readable tail says failed:[] would hide which query broke
    val allFailedJson = allFailed.map(n => "\"" + n + "\"").mkString("[", ",", "]")
    sequentialLine.foreach(println) // adjacent re-print: tail-capture-proof
    println(s"""{"metric":"total","value":$wall,"unit":"sec","failed":$allFailedJson,"sf":"$sfDir","n_queries":${snapshot.size}}""")
    if (!allFinished) sys.exit(1) // don't block on spark.stop() behind hung jobs
    spark.stop()
  }
}
