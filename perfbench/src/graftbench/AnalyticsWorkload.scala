package graftbench

import java.nio.file.Path
import java.util.SplittableRandom

import scala.jdk.CollectionConverters._

import graft.{SparkEntry, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** `analytics`: engine operators over in-memory tables. Set-up builds the
  * `Tables` columnar cache over seeded TPC-H-like tables; one untimed pass
  * then runs every query once and records its result hash. Two clients
  * run `SparkEntry` relational and log-parity queries in a seeded order and
  * collect them; every result must match its warm-pass hash, so a result
  * that changes under concurrent load counts as wrong. After the window,
  * three results are checked against aggregates the generator kept.
  */
final class AnalyticsWorkload(spark0: SparkSession, seed: Long, work: Path) extends Workload {
  import AnalyticsWorkload._
  /** Two clients: at four, on four cores, every op queues for CPU and
    * latency tracks the host's free capacity more than the queries' cost.
    */
  val clients = 2
  /** Each query once per round. */
  override def round: Int = Names.size

  private val dir = work.resolve("tables").toString
  private val gen = new TpchGen(seed, Scale)
  gen.write(spark0, dir)
  private val fns: Map[String, (SparkSession, String) => DataFrame] =
    SparkEntry.queries.filter { case (k, _) => Names.contains(k) }
  require(fns.size == Names.size, s"missing queries: ${Names.filterNot(fns.contains)}")
  /** The fixed cyclic order of [[Names]], rotated by a seeded offset each
    * pass: the queries that run side by side stay the same from seed to
    * seed, so the seed does not change the contention a query meets.
    */
  private val order: IndexedSeq[String] = {
    val r = new SplittableRandom(seed * 17 + 3)
    IndexedSeq.fill(64) { val k = r.nextInt(Names.size); Names.drop(k) ++ Names.take(k) }.flatten
  }
  private var spark: SparkSession = spark0
  private var hashes: Map[String, (Int, Long)] = Map.empty
  private val cacheBuildMs = scala.collection.mutable.ArrayBuffer[Double]()
  private val opQuery = new java.util.concurrent.ConcurrentHashMap[Long, String]()

  def setup(rep: Int, tr: Trace): Unit = {
    // a fresh session misses the per-session Tables memo, so the cache is
    // rebuilt from parquet each time
    spark0.catalog.clearCache()
    spark = spark0.newSession()
    Tables.enableCache()
    val t0 = System.nanoTime()
    TableNames.foreach(t => Tables.table(spark, dir, t).count())
    cacheBuildMs += (System.nanoTime() - t0) / 1e6
  }

  /** The untimed warm pass: every query once, on four threads, recording
    * each result's hash.
    */
  override def afterSetup(): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val fs = Names.map(n => n -> pool.submit(() => resultHash(n)))
      hashes = fs.map { case (n, f) => n -> f.get() }.toMap
    } finally pool.shutdown()
  }

  private def hash(rows: Array[org.apache.spark.sql.Row]): (Int, Long) =
    (rows.map(_.toString).mkString("\n").hashCode, rows.length.toLong)

  private def resultHash(name: String): (Int, Long) = hash(fns(name)(spark, dir).collect())

  def op(i: Long, tr: Trace): Option[Long] = {
    val name = order((i % order.size).toInt)
    val sc = spark.sparkContext
    val op = tr.newOp()
    opQuery.put(op, name)
    val t0 = System.nanoTime()
    val rows = tr.span(sc, "query", op) {
      val df = tr.span(sc, "build", op)(fns(name)(spark, dir))
      if (tr.enabled) tr.span(sc, "plan", op)(df.queryExecution.executedPlan)
      tr.span(sc, "exec", op)(df.collect())
    }
    val t1 = System.nanoTime()
    val ok = hash(rows) == hashes(name)
    if (!ok) System.err.println(s"[perfbench] $name: result differs from the warm pass")
    if (ok) Some(t1 - t0) else None
  }

  /** Three results checked against aggregates the generator kept. */
  override def verify(traced: Option[Trace]): (Long, Long) = {
    def check(what: String, ok: Boolean): Boolean = {
      if (!ok) System.err.println(s"[perfbench] $what does not match the generator")
      ok
    }
    val a1 = fns("a1_count_matching")(spark, dir).collect()
    val a2 = fns("a2_distinct_types")(spark, dir).collect().map(_.getString(0)).toSeq
    val x1 = fns("x1_daily_type_counts")(spark, dir).collect()
    val oracles = Seq(
      check("a1_count_matching", a1.head.getLong(0) == gen.eventsK7),
      check("a2_distinct_types", a2 == gen.eventTypes),
      check("x1_daily_type_counts",
        x1.length == gen.eventDayTypes.size && x1.map(_.getLong(2)).sum == gen.events))
    (oracles.size.toLong, oracles.count(!_).toLong)
  }

  def bytesPerInputByte(): Double = {
    val cached = spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum
    cached.toDouble / gen.bytes
  }

  def layers(tr: Trace, w: Window): Map[String, Double] = {
    val ops = tr.spans.asScala.filter(_.name == "query").map(_.op).toSeq
    Layers.perOp(tr, "exec") ++ Map(
      "render.ms" -> 0.0,
      "query.rows" -> Stats.median(ops.map(op => hashes(opQuery.get(op))._2.toDouble)),
      "tables.cache_build_ms" -> Stats.median(cacheBuildMs.toSeq))
  }
}

object AnalyticsWorkload {
  val Scale = 0.01
  val TableNames = Seq("lineitem", "orders", "events", "part", "customer", "supplier",
    "nation", "region")
  /** `SparkEntry` queries over these tables, one or two per operator
    * shape: scan/filter, sort and top-k, set operations, JSON, as-of join,
    * windows and sessionization, broadcast and shuffle joins, semi/anti and
    * correlated joins, grouping sets and cube. The store/stream gates and
    * the text, vector and media families are left out.
    */
  val Names: Seq[String] = Seq(
    "s6_scan_filter_project", "p1_selector_conjunction", "o1_order_by_time",
    "o2_top1_latest", "a1_count_matching", "a2_distinct_types", "u1_union_all",
    "x1_daily_type_counts", "x2_inter_arrival", "x4_json_extract", "x5_asof_join",
    "x6_sessionization", "u2_intersect", "q1_pricing_summary", "q3_top_revenue",
    "q5_local_volume", "j1_semi_join", "j2_anti_join", "w1_window_top_orders",
    "g3_grouping_sets", "g4_cube", "q9_product_profit", "q13_order_distribution",
    "q18_large_orders", "q21_waiting_suppliers", "j3_correlated_subquery")
}
