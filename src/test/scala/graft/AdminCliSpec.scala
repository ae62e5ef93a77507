package graft

import graft.logs.AdminCli
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** `AdminCli` validates its arguments before it starts Spark: a bad
  * command line fails with the usage text, and no session is created (or,
  * when one is already running in this JVM, stopped).
  */
class AdminCliSpec extends AnyFunSuite {

  private def rejected(args: String*): String = {
    val before = SparkSession.getDefaultSession
    val e = intercept[IllegalArgumentException](AdminCli.main(args.toArray))
    before match {
      case Some(s) => assert(!s.sparkContext.isStopped, s"${args.mkString(" ")} stopped Spark")
      case None => assert(SparkSession.getDefaultSession.isEmpty,
        s"${args.mkString(" ")} started Spark before rejecting its arguments")
    }
    assert(e.getMessage.contains("usage: AdminCli"), e.getMessage)
    e.getMessage
  }

  test("removed retention and compaction flags are rejected as unknown options") {
    assert(rejected("retention", "--root=/no/store", "--cutoff-date=2024-01-01",
      "--snapshot=true").contains("--snapshot"))
    assert(rejected("retention", "--root=/no/store", "--cutoff-date=2024-01-01",
      "--convert-streaming=true").contains("--convert-streaming"))
    assert(rejected("compact", "--root=/no/store", "--convert-streaming=true")
      .contains("--convert-streaming"))
  }

  test("an unknown command, a missing required key and a malformed arg are rejected") {
    assert(rejected("frobnicate", "--root=/no/store").contains("unknown command 'frobnicate'"))
    assert(rejected("retention", "--root=/no/store").contains("--cutoff-date"))
    assert(rejected("compact", "root=/no/store").contains("malformed arg"))
    rejected()
  }

  test("a boolean flag that is neither true nor false is rejected") {
    assert(rejected("compact", "--root=/no/store", "--full=yes")
      .contains("--full must be true or false, got 'yes'"))
    assert(rejected("stats", "--root=/no/store", "--refresh=True").contains("--refresh"))
    assert(rejected("maintain", "--root=/no/store", "--compact-indexes=1")
      .contains("--compact-indexes"))
  }
}
