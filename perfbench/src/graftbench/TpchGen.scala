package graftbench

import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded relational tables in the shapes of the TPC-H-like test data
  * (FIXTURES.md §E): one parquet file per table under `dir`, at `scale`
  * times the row counts of sf1 (lineitem 6M, orders 1.5M, events 1M). Also
  * keeps the few aggregates the benchmark checks query results against.
  */
final class TpchGen(seed: Long, scale: Double) {
  private val r = new SplittableRandom(seed ^ 0x7ab1eL)
  private def n(sf1: Int) = math.max(1, (sf1 * scale).toInt)
  private def money(lo: Double, hi: Double) = math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0
  private val day0 = java.time.LocalDate.of(1995, 1, 1).toEpochDay
  private def ts(day: Long) = java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(day * 86400L))

  val customers = n(150000)
  val suppliers = n(10000)
  val parts = n(200000)
  val orders = n(1500000)
  val lineitems = n(6000000)
  val events = n(1000000)
  val eventTypes = Seq("click", "error", "purchase", "signup", "view")

  /** Oracle: events whose props contain `"k": 7` (k = 7 or 70..79). */
  var eventsK7 = 0L
  /** Oracle: distinct (day, event_type) pairs of events. */
  val eventDayTypes = scala.collection.mutable.Set[(Long, String)]()
  var bytes = 0L

  /** Rows are drawn in order from the seeded generator; the parquet
    * writes run on four threads.
    */
  def write(spark: SparkSession, dir: String): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4, (task: Runnable) => {
      val t = new Thread(task, "tpchgen-write")
      t.setDaemon(true)
      t
    })
    val writes = scala.collection.mutable.ArrayBuffer[java.util.concurrent.Future[Long]]()
    def save(name: String, schema: StructType, rows: Seq[Row]): Unit = {
      val path = s"$dir/$name.parquet"
      writes += pool.submit(() => {
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema).coalesce(1)
          .write.mode("overwrite").parquet(path)
        Files2.dirSize(path)
      })
    }
    try {
      generate(save)
      bytes = writes.map(_.get()).sum
    } finally pool.shutdown()
  }

  private def generate(save: (String, StructType, Seq[Row]) => Unit): Unit = {
    def f(name: String, t: DataType) = StructField(name, t)
    val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
    save("region", StructType(Seq(f("r_regionkey", IntegerType), f("r_name", StringType))),
      regions.indices.map(i => Row(i, regions(i))))
    save("nation", StructType(Seq(f("n_nationkey", IntegerType), f("n_name", StringType),
      f("n_regionkey", IntegerType))), (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))
    val segs = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    save("customer", StructType(Seq(f("c_custkey", LongType), f("c_name", StringType),
      f("c_nationkey", IntegerType), f("c_acctbal", DoubleType), f("c_mktsegment", StringType))),
      (0 until customers).map(i => Row(i.toLong, f"Customer#$i%09d", r.nextInt(25),
        money(-999.99, 9999.99), segs(r.nextInt(5)))))
    save("supplier", StructType(Seq(f("s_suppkey", LongType), f("s_name", StringType),
      f("s_nationkey", IntegerType), f("s_acctbal", DoubleType))),
      (0 until suppliers).map(i => Row(i.toLong, f"Supplier#$i%09d", r.nextInt(25),
        money(-999.99, 9999.99))))
    val adj = Array("large", "hot", "blue", "green", "smooth", "red")
    val noun = Array("ring", "bolt", "gear", "valve", "screw")
    val types = Array("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
    save("part", StructType(Seq(f("p_partkey", LongType), f("p_name", StringType),
      f("p_brand", StringType), f("p_type", StringType), f("p_size", IntegerType),
      f("p_retailprice", DoubleType))),
      (0 until parts).map(i => Row(i.toLong, adj(r.nextInt(6)) + " " + noun(r.nextInt(5)),
        s"Brand#${1 + r.nextInt(25)}", types(r.nextInt(6)), 1 + r.nextInt(50),
        900.0 + (i % 1000) / 10.0)))
    val prios = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    val orderDay = Array.fill(orders)(day0 + r.nextInt(2404))
    save("orders", StructType(Seq(f("o_orderkey", LongType), f("o_custkey", LongType),
      f("o_orderstatus", StringType), f("o_totalprice", DoubleType), f("o_orderdate", TimestampType),
      f("o_orderpriority", StringType))),
      (0 until orders).map(i => Row(i.toLong, r.nextInt(customers).toLong,
        Seq("F", "O", "P")(r.nextInt(3)), money(1000, 500000), ts(orderDay(i)), prios(r.nextInt(5)))))
    save("lineitem", StructType(Seq(f("l_orderkey", LongType), f("l_partkey", LongType),
      f("l_suppkey", LongType), f("l_linenumber", IntegerType), f("l_quantity", DoubleType),
      f("l_extendedprice", DoubleType), f("l_discount", DoubleType), f("l_tax", DoubleType),
      f("l_returnflag", StringType), f("l_linestatus", StringType), f("l_shipdate", TimestampType))),
      (0 until lineitems).map { _ =>
        val o = r.nextInt(orders)
        Row(o.toLong, r.nextInt(parts).toLong, r.nextInt(suppliers).toLong, 1 + r.nextInt(7),
          (1 + r.nextInt(50)).toDouble, money(900, 105000), r.nextInt(11) / 100.0,
          r.nextInt(9) / 100.0, Seq("A", "N", "R")(r.nextInt(3)), Seq("O", "F")(r.nextInt(2)),
          ts(orderDay(o) + 1 + r.nextInt(120)))
      })
    val ev0 = java.time.Instant.parse("2024-01-01T00:00:00Z").getEpochSecond * 1000000L
    val evTimes = Array.fill(events)(ev0 + r.nextLong(30L * 86400L * 1000000L))
    java.util.Arrays.sort(evTimes)
    save("events", StructType(Seq(f("event_id", LongType), f("ts", TimestampType),
      f("user_id", LongType), f("event_type", StringType), f("value", DoubleType),
      f("props", StringType))),
      (0 until events).map { i =>
        val k = r.nextInt(100)
        val t = eventTypes(r.nextInt(5))
        if (k == 7 || k / 10 == 7) eventsK7 += 1
        eventDayTypes += ((evTimes(i) / 86400000000L, t))
        val us = evTimes(i)
        val stamp = java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
          us / 1000000L, (us % 1000000L) * 1000L))
        Row(i.toLong, stamp, r.nextInt(n(15000)).toLong, t, money(0, 560), s"""{"k": $k}""")
      })
  }
}
