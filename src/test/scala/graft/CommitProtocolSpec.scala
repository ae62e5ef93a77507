package graft

import graft.logs.{AppendCommit, Compaction, DeleteVectors, FileStats, GraftStore,
  LogIngest, Retention, SchemaEvolution}
import java.nio.file.{Files, Paths}

/** Every store change commits through one protocol (`GraftStore.commit`),
  * so what one operation writes cannot confuse another: commit ids are the
  * caller's, compaction has no recovery state of its own, and a
  * metadata-only commit carries the live snapshot's vectors and stats.
  */
class CommitProtocolSpec extends SparkSpec {
  import spark.implicits._

  private val parts = Seq("cluster", "namespace", "date")

  private def rows(date: String, msgs: String*) =
    msgs.map(m => ("dev", "ns0", date, m)).toDF("cluster", "namespace", "date", "message")

  private def freshRoot(tag: String): String =
    Files.createTempDirectory(s"graft-$tag").resolve("store").toString

  private def messages(root: String): Seq[String] =
    GraftStore.readStore(spark, root).select($"message").as[String].collect().sorted.toSeq

  test("an append whose commit id names an evolved column commits its rows") {
    val root = freshRoot("idclash")
    LogIngest.writeHive(rows("2024-01-15", "a", "b"), root, partitionCols = parts)
    assert(SchemaEvolution.addColumn(spark, root, "lang", "string", parts) == 2)
    val ledger = Paths.get(root, GraftStore.TxnDirName, "lang")
    assert(!Files.exists(ledger), "add-column wrote a commit-id ledger entry")
    val c = AppendCommit.commit(rows("2024-01-15", "c", "d", "e"), root, parts,
      commitId = Some("lang"))
    assert(!c.replayed && c.version == 3 && c.rows == 3)
    assert(messages(root) == Seq("a", "b", "c", "d", "e"))
    // the ledger names the append's own version, not the add-column's
    assert(Files.readString(ledger).trim == "3")
    // and a true replay of that id is still caught
    assert(AppendCommit.commit(rows("2024-01-15", "c", "d", "e"), root, parts,
      commitId = Some("lang")).replayed)
    assert(GraftStore.readStore(spark, root).count() == 5)
  }

  test("a foreign file landing in a carried partition cannot wedge compaction") {
    val root = freshRoot("wedge")
    LogIngest.writeHive(rows("2024-01-15", "a", "b").unionByName(rows("2024-01-16", "x")),
      root, partitionCols = parts)
    // one-row files: 2024-01-15 is dirty, 2024-01-16 is clean and carried
    appendRaw(rows("2024-01-15", "c", "d", "e"), root, parts, maxRecordsPerFile = 1)
    val clean = Paths.get(GraftStore.resolve(spark, root), "cluster=dev/namespace=ns0/date=2024-01-16")
    Compaction.onBeforeCommit = () => {
      val src = Files.list(clean).filter(_.toString.endsWith(".parquet")).findFirst().get()
      Files.copy(src, clean.resolve("part-foreign.parquet"))
    }
    val outcome =
      try scala.util.Try(Compaction.compactHive(spark, root, partitionCols = parts))
      finally Compaction.onBeforeCommit = () => ()
    // either the compaction aborted before its flip or it committed
    outcome.failed.foreach(e => assert(GraftStore.currentVersion(spark, root) == 1, e))
    outcome.foreach(_ => assert(GraftStore.currentVersion(spark, root) == 2))
    assert(!Files.exists(Paths.get(root, "_compact-inflight")))
    assert(messages(root) == Seq("a", "b", "c", "d", "e", "x", "x"))
    // the store is not wedged: an append and a compaction both commit
    val v = GraftStore.currentVersion(spark, root)
    assert(AppendCommit.commit(rows("2024-01-16", "y"), root, parts).version == v + 1)
    Compaction.compactHive(spark, root, partitionCols = parts)
    assert(GraftStore.currentVersion(spark, root) == v + 2)
    assert(messages(root) == Seq("a", "b", "c", "d", "e", "x", "x", "y"))
  }

  test("compaction materializes vectors of partitions carried at a shallower depth") {
    // default 4-level layout: retention carries its survivors at date depth,
    // a delete keeps that depth, compaction rewrites at hour depth
    val root = freshRoot("mixeddepth")
    val df = (for (d <- Seq("2024-01-15", "2024-01-16"); h <- Seq("07", "08");
                   m <- Seq("a", "b", "c")) yield ("dev", "ns0", d, h, s"$d-$h-$m"))
      .toDF("cluster", "namespace", "date", "hour", "message")
    LogIngest.writeHive(df, root)
    assert(Retention.enforceHive(spark, root, "2024-01-16").size == 1)
    assert(DeleteVectors.deleteWhere(spark, root, $"message" === "2024-01-16-07-b")
      .deletedRows == 1)
    val v = GraftStore.currentVersion(spark, root)
    Compaction.compactHive(spark, root, full = true)
    assert(GraftStore.currentVersion(spark, root) == v + 1)
    assert(messages(root) == Seq("a", "c").map("2024-01-16-07-" + _) ++
      Seq("a", "b", "c").map("2024-01-16-08-" + _))
    assert(DeleteVectors.read(spark, GraftStore.resolve(spark, root)).isEmpty)
  }

  test("add-column carries the live deletion vectors and stats") {
    val root = freshRoot("evolvedv")
    LogIngest.writeHive(rows("2024-01-15", "a", "b", "c"), root, partitionCols = parts)
    assert(DeleteVectors.deleteWhere(spark, root, $"message" === "b").deletedRows == 1)
    assert(SchemaEvolution.addColumn(spark, root, "lang", "string", parts) == 3)
    assert(messages(root) == Seq("a", "c"))
    val live = GraftStore.resolve(spark, root)
    assert(DeleteVectors.read(spark, live).nonEmpty)
    assert(FileStats.rowCountFromStats(spark, root, 3).contains(3L))
  }
}
