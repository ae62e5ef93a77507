package graft

import graft.ext.StreamingDedup
import graft.logs.{GraftStore, LogIngest}
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Online dedup ([[StreamingDedup]]): batch-primitive semantics (in-batch
  * min-id winner, cross-batch anti-join, fully-duplicate no-op), exactly-once
  * replay, the streaming sink end-to-end, and the single-column scan shape of
  * the seen-fingerprint side.
  */
class StreamingDedupSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(name: String) = {
    val d = Files.createTempDirectory(s"graft-sdedup-$name")
    d.toFile.deleteOnExit()
    d
  }

  private def docsDF(rows: (Long, String, String)*) =
    rows.toSeq.toDF("doc_id", "text", "lang")

  test("batch primitive: in-batch min-id wins, cross-batch drops, full-dup batch no-ops") {
    val root = tmp("prim").resolve("corpus").toString
    LogIngest.ensureStore(spark, root)

    val b0 = docsDF((1L, "alpha", "en"), (2L, "beta", "en"), (5L, "alpha", "en"))
    val r0 = StreamingDedup.dedupAppendBatch(spark, root, b0, "doc_id", "text",
      Seq("lang"), commitId = Some("sd-b0"))
    assert(r0.streamed == 3 && r0.admitted == 2 && r0.droppedInBatch == 1 &&
      r0.droppedExisting == 0, s"r0=$r0")
    // min-id winner for the in-batch dup
    assert(GraftStore.readStore(spark, root).filter($"text" === "alpha")
      .select($"doc_id").as[Long].collect().toSeq == Seq(1L))

    val b1 = docsDF((3L, "beta", "en"), (4L, "gamma", "fr"))
    val r1 = StreamingDedup.dedupAppendBatch(spark, root, b1, "doc_id", "text",
      Seq("lang"), commitId = Some("sd-b1"))
    assert(r1.admitted == 1 && r1.droppedExisting == 1, s"r1=$r1")

    // fully-duplicate batch: zero admissions, zero version churn
    val vBefore = GraftStore.liveVersionOf(spark, root)
    val r2 = StreamingDedup.dedupAppendBatch(spark, root, b0, "doc_id", "text",
      Seq("lang"), commitId = Some("sd-b2"))
    assert(r2.admitted == 0 && r2.droppedExisting + r2.droppedInBatch == 3)
    assert(GraftStore.liveVersionOf(spark, root) == vBefore)

    val store = GraftStore.readStore(spark, root)
    assert(store.count() == 3 &&
      store.select($"fingerprint").distinct().count() == 3)
  }

  test("exactly-once: replaying a commit id leaves the store untouched") {
    val root = tmp("replay").resolve("corpus").toString
    LogIngest.ensureStore(spark, root)
    StreamingDedup.dedupAppendBatch(spark, root, docsDF((1L, "a", "en")),
      "doc_id", "text", Seq("lang"), commitId = Some("sd-r0"))
    val r = StreamingDedup.dedupAppendBatch(spark, root,
      docsDF((2L, "b", "en")), "doc_id", "text", Seq("lang"),
      commitId = Some("sd-r1"))
    assert(!r.replayed)
    // the same batch replays (streaming restart): the re-run deduplicates
    // to zero survivors BEFORE the commit layer, so the store is untouched
    // — dedup-level idempotence; commit-id replay (AppendCommitSpec) is the
    // second line of defense for the crash-between-dedup-and-commit window
    val replay = StreamingDedup.dedupAppendBatch(spark, root,
      docsDF((2L, "b", "en")), "doc_id", "text", Seq("lang"),
      commitId = Some("sd-r1"))
    assert(replay.admitted == 0 && replay.version == r.version)
    assert(GraftStore.liveVersionOf(spark, root) == r.version)
    assert(GraftStore.readStore(spark, root).count() == 2)
  }

  test("streaming sink: multi-batch stream admits exactly the distinct texts") {
    val w = tmp("sink")
    val root = w.resolve("corpus").toString
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[
      (Long, String, String)]
    val q = StreamingDedup.startDedupSink(
      stream.toDF().toDF("doc_id", "text", "lang"), root,
      checkpoint = w.resolve("ckpt").toString,
      idCol = "doc_id", textCol = "text", partitionCols = Seq("lang"),
      triggerInterval = "1 seconds")
    try {
      stream.addData(Seq((1L, "x", "en"), (2L, "y", "en")))
      q.processAllAvailable()
      stream.addData(Seq((3L, "x", "en"), (4L, "z", "fr"), (5L, "z", "fr")))
      q.processAllAvailable()
    } finally q.stop()
    val got = GraftStore.readStore(spark, root)
      .select($"doc_id", $"text").as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "x", 2L -> "y", 4L -> "z"), s"store=$got")
  }

  test("near-dup admission: LSH candidates, exact verify, store-backed state") {
    val root = tmp("near").resolve("corpus").toString
    LogIngest.ensureStore(spark, root)
    def words(p: String, n: Int) = (1 to n).map(i => s"$p$i").mkString(" ")
    val base = words("b", 11) // 9 word-3-grams
    val other = words("c", 11)
    val b0 = docsDF((1L, base, "en"), (2L, words("u", 11), "en"),
      (7L, "hi there", "en"))
    val r0 = StreamingDedup.nearDupAppendBatch(spark, root, b0,
      "doc_id", "text", Seq("lang"), commitId = "nd-c0")
    assert(r0.streamed == 3 && r0.admitted == 3, s"r0=$r0")
    // batch 1: 3 ~ 1 (J=0.9, cross-batch), 1 is an id re-send, 6 ~ 5
    // in-batch (earlier = smaller id), 8 repeats 7's SHORT text (no
    // 3-grams → near-dup never fires → admitted), 4 is fresh
    val b1 = docsDF((3L, s"$base b12", "en"), (4L, words("v", 11), "en"),
      (8L, "hi there", "en"), (1L, base, "en"),
      (5L, other, "en"), (6L, s"$other c12", "en"))
    val r1 = StreamingDedup.nearDupAppendBatch(spark, root, b1,
      "doc_id", "text", Seq("lang"), commitId = "nd-c1")
    assert(r1.streamed == 6 && r1.droppedSeenId == 1 &&
      r1.droppedNearDup == 2 && r1.admitted == 3, s"r1=$r1")
    // 9 duplicates DROPPED doc 6 — the policy is "earlier SEEN", not
    // "earlier admitted", so it still drops (non-recursive rule)
    val b2 = docsDF((9L, s"$other c12", "en"))
    val r2 = StreamingDedup.nearDupAppendBatch(spark, root, b2,
      "doc_id", "text", Seq("lang"), commitId = "nd-c2")
    assert(r2.admitted == 0 && r2.droppedNearDup == 1, s"r2=$r2")
    val ids = GraftStore.readStore(spark, root)
      .select($"doc_id").as[Long].collect().sorted.toSeq
    assert(ids == Seq(1L, 2L, 4L, 5L, 7L, 8L), s"ids=$ids")
    // full re-send: the 8-byte id anti-join short-circuits everything —
    // zero admissions, no version churn
    val v = GraftStore.liveVersionOf(spark, root)
    val rAll = StreamingDedup.nearDupAppendBatch(spark, root,
      b0.unionAll(b1).unionAll(b2), "doc_id", "text", Seq("lang"),
      commitId = "nd-c3")
    assert(rAll.admitted == 0 && rAll.droppedSeenId == rAll.streamed &&
      GraftStore.liveVersionOf(spark, root) == v, s"rAll=$rAll")
  }

  test("near-dup crash ordering: a lost grams slice replays to a consistent state") {
    val root = tmp("nearcrash").resolve("corpus").toString
    LogIngest.ensureStore(spark, root)
    def words(p: String, n: Int) = (1 to n).map(i => s"$p$i").mkString(" ")
    val base = words("b", 11)
    StreamingDedup.nearDupAppendBatch(spark, root,
      docsDF((1L, base, "en"), (2L, words("u", 11), "en")),
      "doc_id", "text", Seq("lang"), commitId = "ndc-c0")
    val b1 = docsDF((3L, s"$base b12", "en"), (4L, words("v", 11), "en"))
    val r1 = StreamingDedup.nearDupAppendBatch(spark, root, b1,
      "doc_id", "text", Seq("lang"), commitId = "ndc-c1")
    assert(r1.admitted == 1 && r1.droppedNearDup == 1, s"r1=$r1")
    // simulate the crash window: corpus commit and bands slice landed,
    // the grams slice (the id-authority) did not
    val idx = StreamingDedup.indexRoot(root)
    val gramsSlice = new org.apache.hadoop.fs.Path(s"$idx/grams/c=ndc-c1")
    val fs = gramsSlice.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(gramsSlice, true), "fixture: grams slice must exist")
    // replay: ids 3/4 look unseen again, the whole batch recomputes, the
    // corpus commit no-ops via its commit id, the slices land again
    val r2 = StreamingDedup.nearDupAppendBatch(spark, root, b1,
      "doc_id", "text", Seq("lang"), commitId = "ndc-c1")
    assert(r2.replayed && r2.admitted == 1 && r2.droppedNearDup == 1, s"r2=$r2")
    assert(fs.exists(gramsSlice), "replay must restore the grams slice")
    val ids = GraftStore.readStore(spark, root)
      .select($"doc_id").as[Long].collect().sorted.toSeq
    assert(ids == Seq(1L, 2L, 4L), s"ids=$ids")
    // after the heal, the id anti-join short-circuits the re-send again
    val r3 = StreamingDedup.nearDupAppendBatch(spark, root, b1,
      "doc_id", "text", Seq("lang"), commitId = "ndc-c2")
    assert(r3.admitted == 0 && r3.droppedSeenId == 2, s"r3=$r3")
  }

  test("the bootstrap side scans ONLY the fingerprint column") {
    val root = tmp("prune").resolve("corpus").toString
    LogIngest.ensureStore(spark, root)
    StreamingDedup.dedupAppendBatch(spark, root,
      docsDF((1L, "pruned-text-a", "en")), "doc_id", "text", Seq("lang"),
      commitId = Some("sd-p0"))
    // the one remaining corpus-wide read (legacy-store index bootstrap)
    // must leave the text bytes on disk
    val seen = GraftStore.readStore(spark, root)
      .select($"fingerprint").distinct()
    val plan = seen.queryExecution.executedPlan.toString()
    assert(plan.contains("ReadSchema") &&
      plan.contains("struct<fingerprint:bigint>"),
      s"fingerprint scan must prune the text column:\n${plan.take(1500)}")
  }

  private def leafFiles(path: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return Seq.empty
    val out = Seq.newBuilder[String]
    val it = fs.listFiles(p, true)
    while (it.hasNext) {
      val f = it.next().getPath.toString
      if (f.endsWith(".parquet") && !f.contains("_staging")) out += f
    }
    out.result()
  }

  private def sliceDirs(path: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).filter(s => s.isDirectory &&
      s.getPath.getName.startsWith("c=")).map(_.getPath.getName).toSeq
  }

  test("d10 index reads scan the batch's buckets, not the corpus") {
    val root = tmp("buckets").resolve("corpus").toString
    LogIngest.ensureStore(spark, root)
    val nb = 8
    // three batches spanning many buckets -> several multi-bucket slices
    // (maxIndexSlices high enough that nothing compacts mid-test)
    (0 until 3).foreach { b =>
      val docs = docsDF((0 until 32).map(i =>
        ((b * 100 + i).toLong, s"text-$b-$i", "en")): _*)
      StreamingDedup.dedupAppendBatch(spark, root, docs, "doc_id", "text",
        Seq("lang"), commitId = Some(s"bk-c$b"),
        indexBuckets = nb, maxIndexSlices = 100)
    }
    val idx = StreamingDedup.dedupIndexRoot(root)
    val total = leafFiles(idx).size
    assert(total > nb, s"fixture too small: $total index files")
    // one doc -> one fingerprint bucket; the pruned read the batch runs
    // must touch only that bucket's files across the slices
    val fp = docsDF((999L, "text-1-7", "en"))
      .select(xxhash64($"text")).as[Long].head()
    val bucket = (((fp % nb) + nb) % nb).toInt
    val inBucket = leafFiles(idx).count(_.contains(s"b=$bucket"))
    val pruned = StreamingDedup.readBucketed(spark, idx, "b", Seq(bucket)).get
    pruned.collect()
    val scanned = graft.plans.PlanScans.fileScans(pruned)
      .head.metrics("numFiles").value
    assert(scanned == inBucket && scanned < total,
      s"pruned read must follow the bucket: scanned $scanned, " +
        s"bucket holds $inBucket, index holds $total")
    // and the batch itself still sees the fingerprint through that bucket:
    // a duplicate text admits nothing
    val r = StreamingDedup.dedupAppendBatch(spark, root,
      docsDF((999L, "text-1-7", "en")), "doc_id", "text", Seq("lang"),
      commitId = Some("bk-dup"), indexBuckets = nb, maxIndexSlices = 100)
    assert(r.admitted == 0 && r.droppedExisting == 1, s"r=$r")
  }

  test("d10 index slices compact past the debt gate; dedup is unchanged") {
    val root = tmp("compact").resolve("corpus").toString
    LogIngest.ensureStore(spark, root)
    (0 until 4).foreach { b =>
      StreamingDedup.dedupAppendBatch(spark, root,
        docsDF(((b * 10).toLong, s"t-$b", "en")), "doc_id", "text",
        Seq("lang"), commitId = Some(s"cp-c$b"),
        indexBuckets = 4, maxIndexSlices = 2)
    }
    val idx = StreamingDedup.dedupIndexRoot(root)
    val slices = sliceDirs(idx)
    assert(slices.size <= 3, s"slices must stay bounded: $slices")
    assert(slices.exists(_.startsWith("c=compact-")),
      s"a compacted slice must exist: $slices")
    // compacted state still deduplicates every earlier batch's content
    val r = StreamingDedup.dedupAppendBatch(spark, root,
      docsDF((99L, "t-0", "en"), (98L, "t-3", "en"), (97L, "t-new", "en")),
      "doc_id", "text", Seq("lang"), commitId = Some("cp-dup"),
      indexBuckets = 4, maxIndexSlices = 2)
    assert(r.admitted == 1 && r.droppedExisting == 2, s"r=$r")
  }

  test("d10 legacy store without an index bootstraps it once from the corpus") {
    val root = tmp("boot").resolve("corpus").toString
    LogIngest.ensureStore(spark, root)
    StreamingDedup.dedupAppendBatch(spark, root,
      docsDF((1L, "boot-a", "en"), (2L, "boot-b", "en")), "doc_id", "text",
      Seq("lang"), commitId = Some("bt-c0"))
    // simulate a pre-index corpus (or a lost index): delete the whole
    // index directory — the next batch must rebuild it from the corpus'
    // fingerprint column and still drop the duplicate
    val idx = new org.apache.hadoop.fs.Path(StreamingDedup.dedupIndexRoot(root))
    val fs = idx.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(idx, true), "fixture: index must exist")
    val r = StreamingDedup.dedupAppendBatch(spark, root,
      docsDF((3L, "boot-a", "en"), (4L, "boot-c", "en")), "doc_id", "text",
      Seq("lang"), commitId = Some("bt-c1"))
    assert(r.admitted == 1 && r.droppedExisting == 1, s"r=$r")
    assert(sliceDirs(idx.toString).exists(_ == "c=bootstrap"),
      "bootstrap slice must be published")
  }

  test("stale sibling indexes from a deleted store must not veto a fresh one") {
    val w = tmp("ghost")
    val root = w.resolve("corpus").toString
    LogIngest.ensureStore(spark, root)
    StreamingDedup.dedupAppendBatch(spark, root,
      docsDF((1L, "ghost-a", "en")), "doc_id", "text", Seq("lang"),
      commitId = Some("gh-c0"))
    def words(p: String, n: Int) = (1 to n).map(i => s"$p$i").mkString(" ")
    StreamingDedup.nearDupAppendBatch(spark, root,
      docsDF((2L, words("g", 11), "en")), "doc_id", "text", Seq("lang"),
      commitId = "gh-n0")
    // wipe the store the way an operator would (the root dir); BOTH
    // sibling index trees survive it
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
    LogIngest.ensureStore(spark, root)
    // same text as the dead corpus: the fresh store must ADMIT it (and
    // rebuild its indexes), not drop it against ghost state
    val r = StreamingDedup.dedupAppendBatch(spark, root,
      docsDF((9L, "ghost-a", "en")), "doc_id", "text", Seq("lang"),
      commitId = Some("gh-c1"))
    assert(r.admitted == 1, s"r=$r")
    val rn = StreamingDedup.nearDupAppendBatch(spark, root,
      docsDF((10L, words("g", 11), "en")), "doc_id", "text", Seq("lang"),
      commitId = "gh-n1")
    assert(rn.admitted == 1, s"rn=$rn")
  }

  test("near-dup stream survives an all-short-docs first batch") {
    val root = tmp("short").resolve("corpus").toString
    LogIngest.ensureStore(spark, root)
    // batch 0: nothing shingles — the bands slice must NOT be published
    // (a file-less partitioned slice dir would wedge every later read on
    // schema inference); the grams slice still records the ids
    val r0 = StreamingDedup.nearDupAppendBatch(spark, root,
      docsDF((1L, "hi", "en"), (2L, "yo", "en")), "doc_id", "text",
      Seq("lang"), commitId = "sh-c0")
    assert(r0.admitted == 2, s"r0=$r0")
    // batch 1 (normal docs) must read the indexes without choking, and
    // the id re-send of doc 1 must still drop through the grams index
    def words(p: String, n: Int) = (1 to n).map(i => s"$p$i").mkString(" ")
    val r1 = StreamingDedup.nearDupAppendBatch(spark, root,
      docsDF((1L, "hi", "en"), (3L, words("s", 11), "en")), "doc_id",
      "text", Seq("lang"), commitId = "sh-c1")
    assert(r1.droppedSeenId == 1 && r1.admitted == 1, s"r1=$r1")
  }

  test("null-text docs keep the batch bookkeeping consistent") {
    val root = tmp("nulltext").resolve("corpus").toString
    LogIngest.ensureStore(spark, root)
    val r = StreamingDedup.dedupAppendBatch(spark, root,
      docsDF((1L, null, "en"), (2L, "real", "en"), (3L, "real", "en")),
      "doc_id", "text", Seq("lang"), commitId = Some("nt-c0"))
    // null fingerprint forms its own first-writer group: 3 streamed,
    // 2 admitted (null + one "real"), 1 in-batch dup, nothing negative
    assert(r.streamed == 3 && r.admitted == 2 &&
      r.droppedInBatch == 1 && r.droppedExisting == 0, s"r=$r")
  }

  test("d11 adversarial identical batch: exact twins collapse before LSH") {
    val root = tmp("twin").resolve("corpus").toString
    LogIngest.ensureStore(spark, root)
    def words(p: String, n: Int) = (1 to n).map(i => s"$p$i").mkString(" ")
    val text = words("t", 11)
    val nDocs = 2000
    // 2000 copies of one document: without the collapse the in-batch
    // bands self-join emits ~4M pairs per band x 32 bands; with it, one
    // representative survives to the LSH stage
    val clones = docsDF((1 to nDocs).map(i => (i.toLong, text, "en")): _*)
    val r = StreamingDedup.nearDupAppendBatch(spark, root, clones,
      "doc_id", "text", Seq("lang"), commitId = "tw-c0")
    assert(r.streamed == nDocs && r.admitted == 1 &&
      r.droppedNearDup == (nDocs - 1), s"r=$r")
    assert(GraftStore.readStore(spark, root)
      .select($"doc_id").as[Long].collect().toSeq == Seq(1L))
    // the bands index holds the representative's rows ONLY (bands count),
    // not nDocs x bands — the observable proof the self-join side stayed
    // bounded; the grams index keeps every id (resend authority)
    val idx = StreamingDedup.indexRoot(root)
    assert(spark.read.parquet(s"$idx/bands").count() == 32,
      "bands slice must hold only the representative")
    assert(spark.read.parquet(s"$idx/grams").count() == nDocs)
    // identical SHORT docs (no shingles) are never near-dups: all admit
    val rs = StreamingDedup.nearDupAppendBatch(spark, root,
      docsDF((9001L, "hi", "en"), (9002L, "hi", "en")),
      "doc_id", "text", Seq("lang"), commitId = "tw-c1")
    assert(rs.admitted == 2, s"rs=$rs")
    // and a later near-dup of the family still drops via the representative
    val r2 = StreamingDedup.nearDupAppendBatch(spark, root,
      docsDF((9100L, s"$text t12", "en")), "doc_id", "text", Seq("lang"),
      commitId = "tw-c2")
    assert(r2.admitted == 0 && r2.droppedNearDup == 1, s"r2=$r2")
  }

  /** Rewrite a bucketed index slice into the pre-bucketing layout (plain
    * parquet files, no partition subdirs) — simulates an index written by
    * an older engine version.
    */
  private def downgradeSlice(idx: String, slice: String, pcol: String): Unit = {
    val sliceDir = new org.apache.hadoop.fs.Path(s"$idx/$slice")
    val fs = sliceDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val payload = spark.read.parquet(sliceDir.toString).drop(pcol)
    val tmp = new org.apache.hadoop.fs.Path(idx, "_staging-downgrade")
    payload.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    fs.delete(sliceDir, true)
    assert(fs.rename(tmp, sliceDir))
  }

  test("pre-bucketing exact-dedup slices: unpruned read, compaction rebuckets") {
    val root = tmp("legacyex").resolve("corpus").toString
    LogIngest.ensureStore(spark, root)
    StreamingDedup.dedupAppendBatch(spark, root,
      docsDF((1L, "a", "en"), (2L, "b", "en")), "doc_id", "text",
      Seq("lang"), commitId = Some("lg-b0"))
    val idx = StreamingDedup.dedupIndexRoot(root)
    downgradeSlice(idx, sliceDirs(idx).head, "b")
    assert(leafFiles(idx).forall(!_.contains("/b=")), "downgrade failed")
    // the upgraded reader must not wedge on the legacy slice — and must
    // still see its fingerprints (duplicate "a" drops)
    val r1 = StreamingDedup.dedupAppendBatch(spark, root,
      docsDF((3L, "a", "en"), (4L, "c", "en")), "doc_id", "text",
      Seq("lang"), commitId = Some("lg-b1"))
    assert(r1.admitted == 1 && r1.droppedExisting == 1, s"r1=$r1")
    // compaction is the one-time migration: the mixed tree merges into a
    // single BUCKETED slice
    assert(StreamingDedup.compactIndex(spark, idx, Seq("fingerprint"),
      maxSlices = 8, force = true))
    val after = sliceDirs(idx)
    assert(after.size == 1 && after.head.startsWith("c=compact-"), s"$after")
    assert(leafFiles(idx).forall(_.contains("/b=")),
      s"migration must rebucket every file: ${leafFiles(idx)}")
    // pruned reads against the migrated tree still see every fingerprint
    val r2 = StreamingDedup.dedupAppendBatch(spark, root,
      docsDF((9L, "a", "en"), (8L, "b", "en"), (7L, "c", "en")),
      "doc_id", "text", Seq("lang"), commitId = Some("lg-b2"))
    assert(r2.admitted == 0 && r2.droppedExisting == 3, s"r2=$r2")
  }

  test("pre-bucketing near-dup slices: stream keeps running, then migrates") {
    val root = tmp("legacynd").resolve("corpus").toString
    LogIngest.ensureStore(spark, root)
    def words(p: String, n: Int) = (1 to n).map(i => s"$p$i").mkString(" ")
    StreamingDedup.nearDupAppendBatch(spark, root,
      docsDF((101L, words("w", 11), "en"), (102L, words("z", 11), "en")),
      "doc_id", "text", Seq("lang"), commitId = "lgn-b0")
    val idx = StreamingDedup.indexRoot(root)
    downgradeSlice(s"$idx/bands", sliceDirs(s"$idx/bands").head, "pb")
    downgradeSlice(s"$idx/grams", sliceDirs(s"$idx/grams").head, "gb")
    // the first upgraded batch reads the legacy slices unpruned: the
    // near-dup of 101 drops, the id re-send drops, the fresh doc admits
    val r1 = StreamingDedup.nearDupAppendBatch(spark, root,
      docsDF((201L, words("w", 11) + " tail", "en"),
        (102L, words("q", 11), "en"),
        (301L, "fresh " + words("f", 10), "en")),
      "doc_id", "text", Seq("lang"), commitId = "lgn-b1")
    assert(r1.droppedNearDup == 1 && r1.droppedSeenId == 1 && r1.admitted == 1,
      s"r1=$r1")
    // force-compact both indexes: every file lands under a bucket dir
    assert(StreamingDedup.compactIndex(spark, s"$idx/bands",
      Seq("band", "bucket", "doc_id"), maxSlices = 8, force = true))
    assert(StreamingDedup.compactIndex(spark, s"$idx/grams",
      Seq("doc_id"), maxSlices = 8, force = true))
    assert(leafFiles(s"$idx/bands").forall(_.contains("/pb=")) &&
      leafFiles(s"$idx/grams").forall(_.contains("/gb=")),
      "migration must rebucket both near-dup indexes")
    // and the migrated tree still answers: everything re-sent drops
    val r2 = StreamingDedup.nearDupAppendBatch(spark, root,
      docsDF((401L, words("w", 11), "en"), (301L, "x", "en")),
      "doc_id", "text", Seq("lang"), commitId = "lgn-b2")
    assert(r2.admitted == 0, s"r2=$r2")
  }

  test("two concurrent sinks on one store: no lost admissions, no dup survivors") {
    // two writers (streams with different checkpoints) race interleaved
    // batches of OVERLAPPING texts at one store. The dedup-state lease
    // serializes each batch's whole read-decide-commit-index cycle, so
    // for every text exactly one copy survives (no duplicate survivors)
    // and every distinct text lands (no lost admissions). Without the
    // lease, two batches that both read the index before either writes
    // would both admit the same text.
    val root = tmp("race").resolve("corpus").toString
    LogIngest.ensureStore(spark, root)
    val texts = (0 until 24).map(i => s"racetext-$i")
    import java.util.concurrent.Executors
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val pool = Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    def writer(w: Int) = Future {
      // each writer sends every text, in 3 batches, with writer-unique ids
      (0 until 3).map { b =>
        val docs = docsDF(texts.zipWithIndex
          .filter(_._2 % 3 == b)
          .map { case (t, i) => ((w * 1000 + i).toLong, t, "en") }: _*)
        StreamingDedup.dedupAppendBatch(spark, root, docs, "doc_id", "text",
          Seq("lang"), commitId = Some(s"race-w$w-b$b"))
      }
    }
    val results = try Await.result(
      Future.sequence(Seq(writer(1), writer(2))), 10.minutes)
    finally pool.shutdown()
    val store = GraftStore.readStore(spark, root)
    // every text admitted exactly once across both writers
    assert(store.count() == texts.size.toLong,
      s"expected ${texts.size} survivors, got ${store.count()}")
    assert(store.select($"text").distinct().count() == texts.size.toLong)
    assert(store.select($"fingerprint").distinct().count() == texts.size.toLong)
    // the batch results agree: total admitted == distinct texts
    val admitted = results.flatten.map(_.admitted).sum
    assert(admitted == texts.size.toLong, s"admitted=$admitted")
    // the documented QUEUING behavior (serialize per batch): the lease-held
    // intervals of all six batches are pairwise disjoint. An "optimization"
    // that silently drops the lease makes concurrent cycles overlap and
    // fails here, not just probabilistically via duplicate survivors.
    val held = results.flatten.map(r => (r.leaseAcquiredMs, r.leaseReleasedMs))
    assert(held.forall { case (a, rl) => a > 0L && rl >= a },
      s"lease interval not stamped: $held")
    val sorted = held.sortBy(_._1)
    sorted.sliding(2).foreach {
      case Seq((a1, r1), (a2, _)) =>
        assert(a2 >= r1, s"lease intervals overlap: [$a1,$r1] then [$a2,..] — " +
          "the dedup-state lease no longer serializes concurrent batches")
      case _ => ()
    }
  }

  test("d11 bands/grams reads prune to the batch's buckets and slices compact") {
    val root = tmp("nearbk").resolve("corpus").toString
    LogIngest.ensureStore(spark, root)
    def words(p: String, n: Int) = (1 to n).map(i => s"$p$i").mkString(" ")
    val nb = 8
    (0 until 4).foreach { b =>
      val docs = docsDF((0 until 8).map(i =>
        ((b * 100 + i).toLong, words(s"w$b-$i-", 11), "en")): _*)
      StreamingDedup.nearDupAppendBatch(spark, root, docs, "doc_id", "text",
        Seq("lang"), commitId = s"nbk-c$b",
        indexBuckets = nb, maxIndexSlices = 2)
    }
    val idx = StreamingDedup.indexRoot(root)
    // debt gate ran: both indexes stay at a bounded slice count
    assert(sliceDirs(s"$idx/bands").size <= 3 &&
      sliceDirs(s"$idx/grams").size <= 3,
      s"slices must stay bounded: bands=${sliceDirs(s"$idx/bands")} " +
        s"grams=${sliceDirs(s"$idx/grams")}")
    // the grams resend-check for ONE doc id prunes to one gb bucket
    val gTotal = leafFiles(s"$idx/grams").size
    val gBucket = docsDF((205L, "x", "en"))
      .select(pmod(xxhash64($"doc_id"), lit(nb)).cast("int")).as[Int].head()
    val gInBucket = leafFiles(s"$idx/grams").count(_.contains(s"gb=$gBucket"))
    val gPruned = StreamingDedup.readBucketed(
      spark, s"$idx/grams", "gb", Seq(gBucket)).get
    gPruned.collect()
    val gScanned = graft.plans.PlanScans.fileScans(gPruned)
      .head.metrics("numFiles").value
    assert(gScanned == gInBucket && gScanned < gTotal,
      s"grams read must prune: $gScanned of $gTotal (bucket=$gInBucket)")
    // semantics survive bucketing + compaction: near-dup of batch-0 doc
    // drops, id re-send drops, fresh admits
    val r = StreamingDedup.nearDupAppendBatch(spark, root,
      docsDF((500L, words("w0-3-", 11) + " tail", "en"),
        (999L, "fresh " + words("q", 10), "en"),
        (103L, words("w1-3-", 11), "en")),
      "doc_id", "text", Seq("lang"), commitId = "nbk-c9",
      indexBuckets = nb, maxIndexSlices = 2)
    assert(r.droppedNearDup == 1 && r.droppedSeenId == 1 && r.admitted == 1,
      s"r=$r")
  }

  test("micro-batch body binds to the stream-session clone with AQE pinned off; main session untouched") {
    // the body-session contract (GraftSession.microBatchSession, r16): the
    // sink's internal frames plan on the per-query stream clone where AQE
    // is off (trigger-bounded work gains nothing from per-stage
    // re-planning), while the shared session keeps AQE for batch analytics
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    val seen = new java.util.concurrent.atomic.AtomicReference[(Boolean, String)]()
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Long]
    val q = stream.toDF().writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val sess = GraftSession.microBatchSession(batch)
        seen.set((sess eq spark, sess.conf.get("spark.sql.adaptive.enabled")))
        ()
      }
      .option("checkpointLocation", tmp("aqe-pin").resolve("ckpt").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("50 milliseconds"))
      .start()
    try { stream.addData(1L); q.processAllAvailable() } finally q.stop()
    val (sameSession, bodyAqe) = seen.get()
    assert(!sameSession, "the body session must be the stream clone, not the shared session")
    assert(bodyAqe == "false", s"body AQE must be pinned off, got $bodyAqe")
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true",
      "the shared session's AQE must be untouched")
  }
}
