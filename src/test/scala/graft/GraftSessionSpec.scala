package graft

/** The SPARK_GRAFT_CONF escape hatch fails loudly: one parser, which
  * rejects malformed entries by name, and one apply step, which lets a
  * value Spark rejects propagate instead of swallowing it.
  */
class GraftSessionSpec extends SparkSpec {

  test("SPARK_GRAFT_CONF parser: trims, splits at the first '=', skips blank entries") {
    assert(GraftSession.parseConfOverrides(" a.b = 1 ;c=x=y;; d= ;") ==
      Map("a.b" -> "1", "c" -> "x=y", "d" -> ""))
    assert(GraftSession.parseConfOverrides("").isEmpty)
    assert(GraftSession.parseConfOverrides("k=1;k=2") == Map("k" -> "2"))
  }

  test("SPARK_GRAFT_CONF parser: an entry with no '=' or an empty key throws, naming it") {
    Seq("a=1;oops" -> "oops", " =1" -> "=1", "a=1; = 2" -> "= 2").foreach {
      case (spec, bad) =>
        val e = intercept[IllegalArgumentException](GraftSession.parseConfOverrides(spec))
        assert(e.getMessage.contains(s"'$bad'"), e.getMessage)
    }
  }

  test("overrides on a cloned session: a rejected runtime value throws; static keys are skipped") {
    val aqe = "spark.sql.adaptive.enabled"
    ConfScope.withSessionConf(spark) { s =>
      intercept[IllegalArgumentException] {
        GraftSession.applyConfOverrides(s, Map("spark.sql.shuffle.partitions" -> "many"))
      }
      val warehouse = s.conf.get("spark.sql.warehouse.dir")
      GraftSession.applyConfOverrides(s,
        Map("spark.sql.warehouse.dir" -> "/elsewhere", aqe -> "false"))
      assert(s.conf.get(aqe) == "false")
      assert(s.conf.get("spark.sql.warehouse.dir") == warehouse)
    }
    assert(spark.conf.get(aqe) == "true", "the parent session is untouched")
  }

  test("configure lists up to 1024 paths on the driver; a SPARK_GRAFT_CONF entry wins") {
    val key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    assert(spark.conf.get(key) == "1024")
    // a bare newSession() carries no marker, so configure runs on it
    val fresh = GraftSession.configure(spark.newSession(), Map.empty[String, String])
    assert(fresh.conf.get(key) == "1024")
    val pinned = GraftSession.configure(spark.newSession(), Map(key -> "32"))
    assert(pinned.conf.get(key) == "32")
  }
}
