package graft

import graft.logs._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import java.nio.file.Files

/** Manifest-level file statistics ([[FileStats]]): commit-time per-file
  * `rows` / `time_ns` min-max / `pod` min-max, used to prune the scan FILE
  * LIST before any footer is opened. The at-scale rationale: a 100 TB store
  * at the reference's ~1 MB object size is ~10⁸ objects, and a `--since 15m`
  * query's cost without this tier is the footer round-trips, not the data.
  */
class FileStatsSpec extends SparkSpec {
  import spark.implicits._

  private def fixture() = Tables.events(spark, sf)
    .select(
      CriFunctions.nanosToTimestamp($"ts").as("time"),
      $"ts".as("time_ns"), lit("stdout").as("stream"), lit("F").as("logtag"),
      $"props".as("message"), lit("dev").as("cluster"),
      lit("ns0").as("namespace"), lit("n1").as("node"),
      concat(lit("pod-"), ($"user_id" % 4).cast("string")).as("pod"),
      lit("app").as("container"))
    .withColumn("date", date_format($"time", "yyyy-MM-dd"))

  test("commit-time stats: sidecar exists, row counts sum, min/max cover") {
    val root = Files.createTempDirectory("graft-fstats").resolve("store").toString
    val parts = Seq("cluster", "namespace", "date")
    val df = fixture()
    LogIngest.writeHive(df, root, partitionCols = parts)
    val dir = GraftStore.resolve(spark, root)
    val stats = FileStats.read(spark, dir)
    assert(stats.nonEmpty, "writeHive must stamp the stats sidecar")
    assert(stats.values.map(_.rows).sum == df.count())
    val (lo, hi) = df.agg(min($"time_ns"), max($"time_ns"))
      .as[(Long, Long)].head()
    assert(stats.values.flatMap(_.minNs).min == lo)
    assert(stats.values.flatMap(_.maxNs).max == hi)
    // pod stats present (in-file column with bloom + now minmax in sidecar)
    assert(stats.values.forall(s => s.minPod.nonEmpty && s.maxPod.nonEmpty))
  }

  test("append commit refreshes stats O(delta) and keeps them consistent") {
    val root = Files.createTempDirectory("graft-fstats2").resolve("store").toString
    val parts = Seq("cluster", "namespace", "date")
    val df = fixture()
    val dates = df.select($"date").distinct().as[String].collect().sorted
    LogIngest.writeHive(df.filter($"date" =!= dates.last), root, partitionCols = parts)
    val c = AppendCommit.commit(df.filter($"date" === dates.last), root, parts,
      commitId = Some("fstats-append"))
    assert(!c.replayed)
    val stats = FileStats.read(spark, GraftStore.resolve(spark, root))
    assert(stats.values.map(_.rows).sum == df.count(),
      "post-append sidecar must cover the whole composite snapshot")
  }

  test("--since prunes the scan file list to overlapping files only") {
    val root = Files.createTempDirectory("graft-fstats3").resolve("store").toString
    val parts = Seq("cluster", "namespace", "date")
    val df = fixture()
    LogIngest.writeHive(df, root, partitionCols = parts)
    val dir = GraftStore.resolve(spark, root)
    val total = FileStats.listDirEntries(spark, dir).size
    assert(total > 5, s"fixture too small: $total files")
    // cutoff at the 90th percentile of time_ns: most files must prune away
    val cut = df.stat.approxQuantile("time_ns", Array(0.9), 0.01).head.toLong
    val hiNs = df.agg(max($"time_ns")).as[Long].head()
    val q = LogQuery(layout = LogLayout.Hive,
      sinceSeconds = Some((hiNs - cut) / 1000000000L + 1),
      asOfNanos = Some(hiNs), output = LogOutput.Raw)
    val res = q.dataFrame(spark, root)
    val scanned = scannedFiles(res)
    assert(scanned > 0 && scanned < total,
      s"expected a pruned file list, scanned $scanned of $total")
    // every pruned-away file is genuinely non-overlapping: result matches
    // the unpruned read under the same predicate
    val cutoffNs = hiNs - (((hiNs - cut) / 1000000000L + 1) * 1000000000L)
    val expected = GraftStore.readStore(spark, root)
      .filter($"time_ns" >= cutoffNs).count()
    assert(res.count() == expected)
  }

  test("pod selector prunes files via sidecar min/max when pods cluster") {
    val root = Files.createTempDirectory("graft-fstats4").resolve("store").toString
    val parts = Seq("cluster", "namespace", "date")
    // the writer hashes rows to one task per partition dir, so freshly
    // ingested files mix pods; a pod-lexicographic clustering REWRITE
    // (the maintenance knob for selector-heavy stores) narrows each
    // file's pod range — and the compaction commit refreshes the sidecar
    LogIngest.writeHive(fixture(), root, partitionCols = parts)
    Compaction.compactHive(spark, root, partitionCols = parts, full = true,
      maxRecordsPerFile = 10,
      cluster = ClusterSpec.Lexicographic(Seq("pod", "time_ns")))
    val dir = GraftStore.resolve(spark, root)
    val total = FileStats.listDirEntries(spark, dir).size
    val q = LogQuery(layout = LogLayout.Hive,
      selector = LogSelector(Map("pod" -> "pod-0")), output = LogOutput.Raw)
    val res = q.dataFrame(spark, root)
    val scanned = scannedFiles(res)
    assert(scanned < total,
      s"pod probe should prune: scanned $scanned of $total")
    assert(res.count() ==
      GraftStore.readStore(spark, root).filter($"pod" === "pod-0").count())
  }

  test("generalized column skipping: pushed windows prune on any stats column") {
    val root = Files.createTempDirectory("graft-fstats-cols")
      .resolve("store").toString
    val parts = Seq("cluster", "namespace", "date")
    def half(uidBase: Long, scoreBase: Double, tagPrefix: String) =
      fixture()
        .withColumn("uid", lit(uidBase) + ($"time_ns" % 1000))
        .withColumn("score", lit(scoreBase) + ($"time_ns" % 97) / 100.0)
        .withColumn("tag", concat(lit(tagPrefix), $"time_ns" % 10))
    LogIngest.writeHive(half(0L, 0.0, "alpha-"), root, partitionCols = parts)
    AppendCommit.commit(half(100000L, 500.0, "zulu-"), root, parts,
      commitId = Some("fs-cols"))
    val t = spark.read.format("graft").load(root)
    val total = t.inputFiles.length
    val full = GraftStore.readStore(spark, root)
    def check(q0: org.apache.spark.sql.DataFrame,
        e: org.apache.spark.sql.DataFrame, what: String): Unit = {
      val q = q0.select($"time_ns", $"uid")
      val got = q.collect().map(_.mkString("|")).sorted
      val want = e.select($"time_ns", $"uid").collect().map(_.mkString("|")).sorted
      assert(got.sameElements(want), s"$what changed results")
      val scanned = graft.plans.PlanScans.fileScans(q)
        .head.metrics("numFiles").value
      assert(scanned < total, s"$what should prune: $scanned of $total files")
    }
    // long window drops the low-uid half's files
    check(t.filter($"uid" >= 100000L), full.filter($"uid" >= 100000L),
      "uid range")
    // double window drops the high-score half
    check(t.filter($"score" < 100.0), full.filter($"score" < 100.0),
      "score range")
    // ASCII string window drops the alpha- half
    check(t.filter($"tag" >= "zulu"), full.filter($"tag" >= "zulu"),
      "tag range")
    // equality composes with ranges
    check(t.filter($"uid" === 100003L), full.filter($"uid" === 100003L),
      "uid equality")
    // IN-list windows to [min, max]
    check(t.filter($"uid".isin(100001L, 100007L, 100900L)),
      full.filter($"uid".isin(100001L, 100007L, 100900L)), "uid IN")
    // a big IN-list plans as InSet past the conversion threshold
    val many = (100001L to 100020L).toSeq
    check(t.filter($"uid".isin(many: _*)),
      full.filter($"uid".isin(many: _*)), "uid InSet")
    // null-safe equality with a non-null literal
    check(t.filter($"uid" <=> 100003L), full.filter($"uid" <=> 100003L),
      "uid null-safe equality")
    // startsWith becomes an ASCII prefix window
    check(t.filter($"tag".startsWith("zulu-")),
      full.filter($"tag".startsWith("zulu-")), "tag startsWith")
    // same-column DISJUNCTION: the union of windows refutes the low half
    // even though neither disjunct alone covers the predicate — without
    // OR handling this scans everything and the prune assert fails
    check(t.filter($"uid" < -5L || $"uid" >= 100000L),
      full.filter($"uid" < -5L || $"uid" >= 100000L), "uid OR range")
    // disjunct that is itself a conjunction on the same column
    check(t.filter(($"uid" >= -100L && $"uid" < -5L) || $"uid" >= 100000L),
      full.filter(($"uid" >= -100L && $"uid" < -5L) || $"uid" >= 100000L),
      "uid OR with AND arm")
    // a mixed-column OR must fail open (same results, no prune assert)
    val mixed = t.filter($"uid" < -5L || $"tag" >= "zulu")
      .select($"time_ns", $"uid")
    assert(mixed.collect().map(_.mkString("|")).sorted.sameElements(
      full.filter($"uid" < -5L || $"tag" >= "zulu")
        .select($"time_ns", $"uid").collect().map(_.mkString("|")).sorted),
      "mixed-column OR changed results")
    // back-compat: strip the cols field down to the 7-field format — the
    // same queries keep their answers and simply stop pruning on uid
    val dirP = new org.apache.hadoop.fs.Path(GraftStore.resolve(spark, root))
    val fs = dirP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val sidecars = {
      val out = Seq.newBuilder[org.apache.hadoop.fs.Path]
      val it = fs.listFiles(dirP, true)
      while (it.hasNext) {
        val f = it.next()
        if (f.getPath.getName == FileStats.StatsName) out += f.getPath
      }
      out.result()
    }
    assert(sidecars.nonEmpty)
    sidecars.foreach { p =>
      val in = fs.open(p)
      val text = try new String(
        org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
      finally in.close()
      val stripped = text.split('\n').map(l =>
        l.split('\t').take(7).mkString("\t")).mkString("\n")
      val out = fs.create(p, true)
      try out.write(stripped.getBytes("UTF-8")) finally out.close()
    }
    val t2 = spark.read.format("graft").load(root)
    val q2 = t2.filter($"uid" === 100003L).select($"time_ns", $"uid")
    assert(q2.collect().map(_.mkString("|")).sorted
      .sameElements(full.filter($"uid" === 100003L)
        .select($"time_ns", $"uid").collect().map(_.mkString("|")).sorted))
    assert(graft.plans.PlanScans.fileScans(q2)
      .head.metrics("numFiles").value == total,
      "7-field sidecar must fail open to scanning everything")
  }

  test("ColRange.overlaps: kind mismatch, parse failure, non-ASCII all keep") {
    import graft.sources.GraftFileIndex.ColRange
    def w(lo: Option[Any], hi: Option[Any]) = Seq((lo, hi))
    val eq5 = ColRange('l', w(Some(5L), Some(5L)))
    assert(!eq5.overlaps(FileStats.ColStat('l', "6", "9")))
    assert(eq5.overlaps(FileStats.ColStat('l', "1", "5")))
    assert(eq5.overlaps(FileStats.ColStat('s', "1", "9")), "kind mismatch keeps")
    assert(eq5.overlaps(FileStats.ColStat('l', "garbage", "9")), "bad parse keeps")
    val sRange = ColRange('s', w(Some("zulu"), None))
    assert(!sRange.overlaps(FileStats.ColStat('s', "alpha-0", "alpha-9")))
    assert(sRange.overlaps(FileStats.ColStat('s', "ünïcödé", "ünïcödé")),
      "non-ASCII stats refuse to prune")
    val dHi = ColRange('d', w(None, Some(1.5d)))
    assert(!dHi.overlaps(FileStats.ColStat('d', "2.0", "3.0")))
    assert(dHi.overlaps(FileStats.ColStat('d', "0.5", "3.0")))
    // floats never refute via the LOWER bound: parquet min/max exclude
    // NaN, and NaN satisfies any `col > x` under Spark semantics
    val dLo = ColRange('d', w(Some(5.0d), None))
    assert(dLo.overlaps(FileStats.ColStat('d', "0.1", "0.2")),
      "a NaN row could satisfy col > 5 despite max=0.2")
    // signed zero: a -0.0-only file matches a 0.0 upper bound
    val z = ColRange('d', w(None, Some(0.0d)))
    assert(!z.overlaps(FileStats.ColStat('d', "0.5", "0.9")))
    assert(z.overlaps(FileStats.ColStat('d', "-0.0", "-0.0")))
    // NaN leaked into stats: keep
    assert(dHi.overlaps(FileStats.ColStat('d', "NaN", "NaN")))
    // UNION of windows: a file matches when ANY window overlaps; the
    // gap between them refutes
    val gap = ColRange('l', Seq(
      (None: Option[Any], Some(10L): Option[Any]),
      (Some(1000L): Option[Any], None: Option[Any])))
    assert(gap.overlaps(FileStats.ColStat('l', "0", "5")))
    assert(gap.overlaps(FileStats.ColStat('l', "999", "2000")))
    assert(!gap.overlaps(FileStats.ColStat('l', "50", "500")),
      "the middle of the union's gap must refute")
    // EMPTY union = proven-unsatisfiable conjunction: refute everything
    val never = ColRange('l', Seq.empty)
    assert(!never.overlaps(FileStats.ColStat('l', "0", "5")))
  }

  test("foreign-writer string stats are bounds-only 'S': prune yes, answer no") {
    import graft.sources.GraftFileIndex.ColRange
    // engine-written (parquet-mr footer): exact 's'
    val eng = Files.createTempDirectory("graft-exactstr").toString
    Seq(("alpha", 1L), ("mike", 2L), ("zulu", 3L)).toDF("name", "v")
      .coalesce(1).write.mode("overwrite").parquet(eng)
    val engStat = FileStats.refreshDir(spark, eng, Map.empty)
      .flatMap(_.cols.get("name"))
    assert(engStat.nonEmpty && engStat.forall(_.kind == 's'), s"$engStat")

    // pyarrow-written driver testdata (created_by parquet-cpp-arrow, a
    // writer that truncates long binary stats): bounds-only 'S'. Copied
    // into a temp dir — refreshDir stamps a sidecar and testdata is
    // read-only (and a bare file, not a directory)
    val forn = Files.createTempDirectory("graft-foreignstr").toString
    Files.copy(java.nio.file.Paths.get(s"$sf/nation.parquet"),
      java.nio.file.Paths.get(s"$forn/nation.parquet"))
    val fornStat = FileStats.refreshDir(spark, forn, Map.empty)
      .flatMap(_.cols.get("n_name"))
    assert(fornStat.nonEmpty && fornStat.forall(_.kind == 'S'),
      s"foreign string stats must be marked inexact: $fornStat")
    // the bounds still PRUNE (conservative either way) ...
    val miss = ColRange('s', Seq((Some("zzz"): Option[Any], None: Option[Any])))
    assert(fornStat.forall(c => !miss.overlaps(c)),
      "an 'S' bound past the window must still refute the file")
    val hit = ColRange('s', Seq((Some("NATION_1"): Option[Any],
      Some("NATION_1"): Option[Any])))
    assert(fornStat.exists(hit.overlaps), "an overlapping 'S' bound keeps")
    // ... but metadata-only min/max ANSWERING rejects 'S' — the kind-exact
    // gate in GraftMetadataAggregate requires 's' (a truncated max can be
    // a string absent from the data); pinned here at the ColStat level
    assert(fornStat.forall(_.kind != 's'))
  }

  test("colRanges: disjunctions, IN point-unions, unsatisfiable conjunctions") {
    import graft.sources.GraftFileIndex
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, GreaterThan, GreaterThanOrEqual, In, LessThan, LessThanOrEqual, Literal, Or}
    import org.apache.spark.sql.types.{LongType, StringType}
    val uid = AttributeReference("uid", LongType)()
    // OR of ranges: two windows, middle refutes (checked via overlaps)
    val r = GraftFileIndex.colRanges(Seq(
      Or(LessThan(uid, Literal(10L)),
        GreaterThan(uid, Literal(1000000000L)))))("uid")
    assert(r.windows.size == 2)
    assert(!r.overlaps(FileStats.ColStat('l', "500", "900")))
    assert(r.overlaps(FileStats.ColStat('l', "0", "5")))
    assert(r.overlaps(FileStats.ColStat('l', "2000000000", "3000000000")))
    // IN-list is a union of POINTS now: the middle refutes too
    val in = GraftFileIndex.colRanges(Seq(
      In(uid, Seq(Literal(1L), Literal(1000000000L)))))("uid")
    assert(!in.overlaps(FileStats.ColStat('l', "100", "900")),
      "between two IN points must refute")
    assert(in.overlaps(FileStats.ColStat('l', "900", "1000000001")))
    // conjunction that can never hold: empty union, refutes everything
    val never = GraftFileIndex.colRanges(Seq(
      GreaterThanOrEqual(uid, Literal(100L)),
      LessThanOrEqual(uid, Literal(10L))))("uid")
    assert(never.windows.isEmpty)
    assert(!never.overlaps(FileStats.ColStat('l', "0", "1000")))
    // a disjunction with an unmappable arm voids the whole OR
    val tag = AttributeReference("tag", StringType)()
    val ranges = GraftFileIndex.colRanges(Seq(
      Or(LessThan(uid, Literal(10L)),
        GreaterThan(tag, Literal(
          org.apache.spark.unsafe.types.UTF8String.fromString("z"),
          StringType)))))
    assert(!ranges.contains("uid"), "mixed-column OR must build no window")
  }

  test("utf8Lt merges block bounds in parquet's unsigned-byte order") {
    // the cross-block merge must use the SAME ordering each block's own
    // min/max obeys (parquet unsigned bytes = Spark UTF8String order).
    // U+E000 (UTF-8 EE 80 80) vs U+10000 (F0 90 80 80) is exactly where
    // Java's UTF-16 `<` flips the verdict: the surrogate pair starts at
    // 0xD800 < 0xE000, so UTF-16 calls the supplementary char SMALLER
    val e000 = "\uE000"
    val supp = new String(Character.toChars(0x10000))
    assert(!(e000 < supp), "UTF-16 disagrees (the trap this guards)")
    assert(FileStats.utf8Lt(e000, supp), "byte order: U+E000 < U+10000")
    assert(!FileStats.utf8Lt(supp, e000))
    // prefix rule and equality
    assert(FileStats.utf8Lt("ab", "abc"))
    assert(!FileStats.utf8Lt("abc", "abc"))
    // plain ASCII agrees with both orderings
    assert(FileStats.utf8Lt("alpha", "beta"))
  }

  test("sidecar TSV round-trips hostile keys and pod names") {
    val dir = Files.createTempDirectory("graft-fstats-rt").toString
    val hostile = Seq(
      FileStats.FileStat("/date=2024-01-01/part a\tb.parquet", 10L, 5L,
        Some(-1L), Some(Long.MaxValue), Some("pod\twith\ttabs"), Some("pod\nnl")),
      FileStats.FileStat("/k=v/ünïcödé.parquet", 1L, 0L, None, None, None, None),
      FileStats.FileStat("plain.parquet", 2L, 7L, Some(0L), Some(0L),
        Some(""), Some("z" * 300),
        Map("uid" -> FileStats.ColStat('l', "-5", "17"),
          "häßlich:col,name" -> FileStats.ColStat('s', "a:b,c", "z\tz"))))
    FileStats.write(spark, dir, hostile)
    val back = FileStats.read(spark, dir)
    assert(back.size == hostile.size)
    hostile.foreach { s =>
      assert(back(s.key) == s, s"round-trip mangled ${s.key}: ${back.get(s.key)}")
    }
  }

  test("pre-v2 sidecar (no version header) reads 's' string stats as bounds-only 'S'") {
    // sidecars written before the exact/truncated distinction may label a
    // truncated foreign-writer bound 's'; without the v2 header the reader
    // must downgrade so metadata-only answering never uses a fabricated max
    val dir = Files.createTempDirectory("graft-fstats-v1").toString
    val stat = FileStats.FileStat("old.parquet", 10L, 5L, Some(1L), Some(9L),
      None, None, Map(
        "name" -> FileStats.ColStat('s', "aaa", "zzz"),
        "uid" -> FileStats.ColStat('l', "-5", "17")))
    FileStats.write(spark, dir, Seq(stat))
    val sidecar = java.nio.file.Paths.get(dir, FileStats.StatsName)
    val text = Files.readString(sidecar)
    assert(text.startsWith("#graft_filestats_v2"), "writer must stamp the version")
    // strip the header → a v1-era sidecar (drop the hadoop checksum file,
    // stale after the out-of-band edit)
    Files.writeString(sidecar, text.linesIterator.drop(1).mkString("\n"))
    Files.deleteIfExists(java.nio.file.Paths.get(dir, "." + FileStats.StatsName + ".crc"))
    val v1 = FileStats.read(spark, dir)("old.parquet")
    assert(v1.cols("name").kind == 'S', s"v1 's' must downgrade: ${v1.cols}")
    assert(v1.cols("name").min == "aaa" && v1.cols("name").max == "zzz",
      "bounds still usable for pruning")
    assert(v1.cols("uid") == FileStats.ColStat('l', "-5", "17"),
      "non-string kinds are unaffected")
    // and a current-version sidecar keeps 's' exact
    val v2 = { FileStats.write(spark, dir, Seq(stat)); FileStats.read(spark, dir)("old.parquet") }
    assert(v2.cols("name").kind == 's')
  }

  test("rowCountFromStats: exact under full coverage, None when stale") {
    val root = Files.createTempDirectory("graft-fstats6").resolve("store").toString
    val parts = Seq("cluster", "namespace", "date")
    val df = fixture()
    LogIngest.writeHive(df, root, partitionCols = parts)
    val cur = GraftStore.currentVersion(spark, root)
    assert(FileStats.rowCountFromStats(spark, root, cur).contains(df.count()),
      "fully covered sidecar must yield the exact count")
    // tamper one line's length: coverage breaks, the shortcut must refuse
    val dir = GraftStore.resolve(spark, root)
    val stats = FileStats.read(spark, dir).values.toSeq
    FileStats.write(spark, dir,
      stats.head.copy(len = stats.head.len + 1) +: stats.tail)
    assert(FileStats.rowCountFromStats(spark, root, cur).isEmpty,
      "stale line must disable the metadata count, not corrupt it")
  }

  test("stale/absent stats fail open: file without a line is always scanned") {
    val root = Files.createTempDirectory("graft-fstats5").resolve("store").toString
    val parts = Seq("cluster", "namespace", "date")
    val df = fixture()
    LogIngest.writeHive(df, root, partitionCols = parts)
    val dir = GraftStore.resolve(spark, root)
    // drop half the sidecar lines: the dropped files must still be read
    val stats = FileStats.read(spark, dir).values.toSeq.sortBy(_.key)
    FileStats.write(spark, dir, stats.take(stats.size / 2))
    val all = spark.read.format("graft").load(root)
      .filter($"time_ns" >= Long.MinValue).count()
    assert(all == df.count(), "files missing from the sidecar must be kept")
  }
}
