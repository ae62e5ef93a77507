package graftbench

import java.nio.file.{Files, Path, Paths}

/** The benchmark's own checks:
  *  1. the same seed gives byte-identical CRI files and identical expected
  *     counts, and another seed gives different files;
  *  2. a wrong expected count is caught: unskewed the error rate is 0, with
  *     the oracle skewed by one row it rises above 0.
  *
  * Run with `python3 perfbench/run.py --self-test`; exits non-zero on the
  * first failed check.
  */
object SelfTest {
  private def check(what: String, ok: Boolean): Unit = {
    println(s"${if (ok) "ok  " else "FAIL"} $what")
    if (!ok) sys.exit(1)
  }

  private def digest(root: Path): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    Files.walk(root).toArray.map(_.asInstanceOf[Path]).filter(Files.isRegularFile(_))
      .sortBy(p => root.relativize(p).toString).foreach { p =>
        md.update(root.relativize(p).toString.getBytes("UTF-8"))
        md.update(Files.readAllBytes(p))
      }
    md.digest().map("%02x".format(_)).mkString
  }

  private def generate(seed: Long, dir: Path): (String, Seq[Long]) = {
    val g = new CriGen(seed)
    g.writeTree(dir, 5000, CriGen.anchorNs - 48 * CriGen.hourNs, CriGen.anchorNs, 0)
    g.writeTree(dir, 500, CriGen.anchorNs - CriGen.hourNs, CriGen.anchorNs, 1)
    val counts = Seq(g.expected(None, None, None)) ++
      (0 until 4).map(ns => g.expected(Some(ns), None, None)) ++
      (0 until 25).map(p => g.expected(None, Some(p), Some(0))) ++
      Seq(300L, 3600L).map(s => g.expected(Some(1), None, None, CriGen.anchorNs - s * 1000000000L))
    (digest(dir), counts)
  }

  def main(args: Array[String]): Unit = {
    val work = Paths.get(args(0))
    val (d1, c1) = generate(42, work.resolve("a"))
    val (d2, c2) = generate(42, work.resolve("b"))
    val (d3, _) = generate(43, work.resolve("c"))
    check("same seed: byte-identical CRI tree", d1 == d2)
    check("same seed: identical expected counts", c1 == c2)
    check("other seed: different CRI tree", d1 != d3)
    check("expected counts cover every line", c1.head == 5500 && c1.slice(1, 5).sum == 5500)

    val spark = graft.GraftSession.local("graftbench-selftest")
    spark.sparkContext.setLogLevel("ERROR")
    try {
      def errorRate(skew: Long, dir: String): Double = {
        val w = new LogWorkload(spark, 7, work.resolve(dir), batchLines = 2000, oracleSkew = skew)
        try {
          w.setup(0, new Trace(false))
          val win = Main.closedLoop(w, new Trace(false), 4.0)
          val (va, vf) = w.verify(None)
          (win.failed + vf).toDouble / (win.attempted + va)
        } finally w.close()
      }
      check("correct counts: error_rate 0", errorRate(0, "q0") == 0.0)
      check("injected wrong count: error_rate above 0", errorRate(1, "q1") > 0.0)
    } finally spark.stop()
  }
}
