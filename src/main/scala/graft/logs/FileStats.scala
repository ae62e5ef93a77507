package graft.logs

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.SerializableWritable
import org.apache.spark.sql.SparkSession

/** Manifest-level per-file statistics — the listing-scale pruning tier.
  *
  * Parquet row-group stats prune ROW GROUPS, but only after the reader has
  * listed the store and opened every file's footer. At the reference's ~1 MB
  * object size (reference k3d-example/fluentbit/fluent-bit.conf:42,59) a
  * 100 TB store is ~10⁸ objects: the footer-open round-trips, not the data
  * bytes, dominate a `--since 15m` query that ultimately reads a handful of
  * files. This sidecar lifts each file's pruning stats INTO the commit
  * metadata — the Iceberg manifest-stats play — so the planner drops
  * non-overlapping files from the scan list before any footer (or, on object
  * stores, any GET) is issued.
  *
  * One `_graft_filestats` object per version dir, one
  * TSV line per data file keyed by the store-layout-relative path that
  * [[GraftStore.compositeEntries]] uses: `key  len  rows  minNs  maxNs
  * minPod  maxPod`. `len` doubles as an identity check — a same-key length
  * mismatch means the stats are stale for that file and it is kept
  * (conservative). Absent sidecar or absent line = file is kept: pruning is
  * an optimization, never a correctness gate.
  *
  * Commit integration: maintenance and append commits call [[refreshInto]]
  * with the PREDECESSOR version's stats — carried files (same key+len) reuse
  * their lines with zero I/O, so an append commit footer-reads only the
  * files it staged, and stats stay O(delta) per commit like the commits
  * themselves.
  */
object FileStats {

  val StatsName = "_graft_filestats"

  /** One leaf column's whole-file min/max. `kind` is the comparison
    * domain: 'l' integer-like (int32/int64/date/timestamp), 'd' floating,
    * 's' string, 'S' string BOUNDS-ONLY. Values serialize as strings; the
    * consumer re-parses by kind and only compares against a literal of
    * the SAME kind.
    *
    * 'S' marks strings from a footer whose writer may TRUNCATE binary
    * statistics (anything not parquet-mr — pyarrow/DuckDB truncate long
    * values and increment the truncated max): the bounds stay
    * conservative, so pruning treats 'S' exactly like 's', but the max
    * may be a fabricated string not present in the data, so
    * metadata-only min/max ANSWERING must not use it
    * ([[graft.plans.GraftMetadataAggregate]] requires 's'). parquet-mr
    * footers are exact-or-absent (stats above the size cap are dropped,
    * never truncated, unless a writer opts into truncation — which this
    * engine never does). Sidecars written before this distinction (no
    * [[VersionHeader]]) read their 's' entries as 'S' until their next
    * refresh rewrites them at the current version.
    */
  final case class ColStat(kind: Char, min: String, max: String)

  /** Absent optional / absent `cols` entry = the file carries no usable
    * stats for that column (pre-stats file, missing column, null-only
    * values, or corrupt footer line) — always read such a file.
    *
    * `cols` generalizes the dedicated `time_ns`/`pod` fields to EVERY
    * primitive leaf column (the Delta `dataSkippingNumIndexedCols` play):
    * any pushed range/equality conjunct can prune the file list before a
    * footer is opened. The dedicated fields stay for the `--since`/selector
    * fast paths and for sidecar back-compat (7-field lines parse with an
    * empty map and simply don't prune on other columns).
    */
  final case class FileStat(key: String, len: Long, rows: Long,
      minNs: Option[Long], maxNs: Option[Long],
      minPod: Option[String], maxPod: Option[String],
      cols: Map[String, ColStat] = Map.empty) {

    /** Can this file contain a row with `time_ns >= cutoffNs`? */
    def mayOverlapSince(cutoffNs: Long): Boolean =
      maxNs.forall(_ >= cutoffNs)

    /** Can this file contain a row with `pod = v`? (Only meaningful for
      * layouts where `pod` is an in-file column.)
      */
    def mayContainPod(v: String): Boolean =
      (minPod, maxPod) match {
        case (Some(lo), Some(hi)) => lo <= v && v <= hi
        case _ => true
      }
  }

  private val NullMark = "-"

  /** Most columns indexed per file, and the longest string min/max kept —
    * a wide or free-text schema must not balloon the sidecar the planner
    * reads whole (Delta caps at dataSkippingNumIndexedCols=32 and
    * truncates strings; truncation is direction-unsafe for a max bound,
    * so over-long strings DROP the column instead).
    */
  private val MaxStatCols = 32
  private val MaxStatStringLen = 64

  /** The comparison domain of a leaf column, or ' ' when its stats must
    * not feed pruning. Classification needs the LOGICAL annotation, not
    * just the physical type: an INT64 holds micros for a MICROS timestamp
    * but millis for a MILLIS one, and only the former matches what a
    * Catalyst literal pushes (micros for TimestampType, raw nanos for the
    * engine's nanosAsLong longs); unsigned ints read wrong through signed
    * longValue. Anything not provably literal-compatible is untracked.
    */
  private def statKind(pt: org.apache.parquet.schema.PrimitiveType): Char = {
    import org.apache.parquet.schema.LogicalTypeAnnotation
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    val ann = pt.getLogicalTypeAnnotation
    pt.getPrimitiveTypeName match {
      case INT32 | INT64 => ann match {
        case null => 'l'
        case i: LogicalTypeAnnotation.IntLogicalTypeAnnotation =>
          if (i.isSigned) 'l' else ' '
        case _: LogicalTypeAnnotation.DateLogicalTypeAnnotation => 'l'
        case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
          // MICROS matches TimestampType literals; NANOS matches the
          // engine's nanosAsLong longs; MILLIS matches neither
          if (t.getUnit == LogicalTypeAnnotation.TimeUnit.MICROS ||
            t.getUnit == LogicalTypeAnnotation.TimeUnit.NANOS) 'l'
          else ' '
        case _ => ' ' // decimal/time/unknown: unscaled values don't match
      }
      case FLOAT | DOUBLE => 'd'
      case BINARY
        if ann.isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation] => 's'
      case _ => ' '
    }
  }

  /** `a < b` under unsigned UTF-8 byte comparison — parquet's BINARY stats
    * ordering, and the one Spark's UTF8String comparisons use. Cross-block
    * merges must use THIS ordering so a recorded whole-file bound is a
    * true extreme of the per-block bounds.
    */
  private[graft] def utf8Lt(a: String, b: String): Boolean = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c < 0
      i += 1
    }
    x.length < y.length
  }

  private def esc(s: String): String =
    java.net.URLEncoder.encode(s, "UTF-8")
  private def unesc(s: String): String =
    java.net.URLDecoder.decode(s, "UTF-8")

  /** Sidecar format version header. v2 is the first version whose writer
    * distinguishes exact 's' string stats from bounds-only 'S' ones; a
    * sidecar WITHOUT the header predates the distinction, so its 's'
    * entries may really be truncated foreign-writer bounds — read them as
    * 'S' (prune yes, metadata-only answer no) until the next refresh
    * rewrites the sidecar at v2. The header parses as a 1-field line for
    * any reader that ignores it.
    */
  private val VersionHeader = "#graft_filestats_v2"

  def read(spark: SparkSession, dir: String): Map[String, FileStat] = {
    val p = new Path(dir, StatsName)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return Map.empty
    val in = fs.open(p)
    val text = try new String(org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
    finally in.close()
    val exactStringsTrusted = text.startsWith(VersionHeader)
    def parseCols(field: String): Map[String, ColStat] =
      if (field == NullMark) Map.empty
      // limit = -1: an empty-string min/max must keep its field slot
      else field.split(",", -1).iterator.flatMap { ent =>
        ent.split(":", -1) match {
          case Array(n, kind, mn, mx) if kind.length == 1 =>
            val k0 = kind.charAt(0)
            val k = if (k0 == 's' && !exactStringsTrusted) 'S' else k0
            Some(unesc(n) -> ColStat(k, unesc(mn), unesc(mx)))
          case _ => None // torn entry: that column just won't prune
        }
      }.toMap
    text.split('\n').iterator.filter(_.nonEmpty).flatMap { line =>
      line.split('\t') match {
        case Array(k, len, rows, mn, mx, pmn, pmx) =>
          // 7-field back-compat line (pre-column-stats sidecar)
          def optL(s: String) = if (s == NullMark) None else Some(s.toLong)
          def optS(s: String) = if (s == NullMark) None else Some(unesc(s))
          Some(FileStat(unesc(k), len.toLong, rows.toLong,
            optL(mn), optL(mx), optS(pmn), optS(pmx)))
        case Array(k, len, rows, mn, mx, pmn, pmx, cols) =>
          def optL(s: String) = if (s == NullMark) None else Some(s.toLong)
          def optS(s: String) = if (s == NullMark) None else Some(unesc(s))
          Some(FileStat(unesc(k), len.toLong, rows.toLong,
            optL(mn), optL(mx), optS(pmn), optS(pmx), parseCols(cols)))
        case _ => None // torn/foreign line: that file just won't prune
      }
    }.map(s => (s.key, s)).toMap
  }

  def write(spark: SparkSession, dir: String, stats: Seq[FileStat]): Unit = {
    val lines = stats.sortBy(_.key).map { s =>
      def l(o: Option[Long]) = o.map(_.toString).getOrElse(NullMark)
      def t(o: Option[String]) = o.map(esc).getOrElse(NullMark)
      val cols =
        if (s.cols.isEmpty) NullMark
        else s.cols.toSeq.sortBy(_._1).map { case (n, c) =>
          s"${esc(n)}:${c.kind}:${esc(c.min)}:${esc(c.max)}"
        }.mkString(",")
      s"${esc(s.key)}\t${s.len}\t${s.rows}\t${l(s.minNs)}\t${l(s.maxNs)}\t${t(s.minPod)}\t${t(s.maxPod)}\t$cols"
    }
    GraftStore.atomicWriteBytes(spark, new Path(dir, StatsName),
      (VersionHeader +: lines).mkString("\n").getBytes("UTF-8"))
  }

  /** Footer-read stats for `files` (key, physicalPath, len) — a distributed
    * job over the file list, not a driver loop: a full-store refresh at 10⁸
    * objects is a 10⁸-task-row Spark job (the same shape Iceberg uses to
    * rewrite manifests), while per-commit incremental calls hand in only the
    * delta. Footer-only I/O; no data pages are read.
    */
  def collect(spark: SparkSession, files: Seq[(String, String, Long)],
      timeColumn: String = "time_ns", podColumn: String = "pod"): Seq[FileStat] = {
    if (files.isEmpty) return Seq.empty
    val confB = spark.sparkContext.broadcast(
      new SerializableWritable(spark.sparkContext.hadoopConfiguration))
    val slices = math.min(files.length,
      math.max(1, spark.sparkContext.defaultParallelism))
    spark.sparkContext.parallelize(files, slices).mapPartitions { it =>
      val conf = confB.value.value
      it.flatMap { case (key, physical, len) =>
        try {
          val reader = openFooter(new Path(physical), conf)
          try Some(footerStat(key, len, reader.getFooter, timeColumn, podColumn))
          finally reader.close()
        } catch {
          // unreadable footer (transient store error, foreign file): emit NO
          // line — an absent line already means "always scan, shortcuts
          // disabled", whereas a line with rows=0 would MATCH by (key,len)
          // and silently undercount every metadata-only answer
          case _: Throwable => None
        }
      }
    }.collect().toSeq
  }

  /** Stats of files a commit has just staged, footers read on the driver
    * in one pass: the sum of their `rows` is the staged row count, and
    * passed to [[refreshInto]] as `prior` they make the commit's sidecar
    * refresh read no footer again. `files` are keyed as the next snapshot
    * keys them ([[listDirEntries]] of the staging dir). A staged footer
    * that cannot be read fails the commit.
    */
  def collectStaged(spark: SparkSession,
      files: Seq[GraftStore.FileEntry]): Seq[FileStat] = {
    val conf = spark.sparkContext.hadoopConfiguration
    files.map { f =>
      val reader = openFooter(new Path(f.physical), conf)
      try footerStat(f.key, f.len, reader.getFooter) finally reader.close()
    }
  }

  /** A reader of parquet file `p` with its footer read, its options built
    * from `conf`. `ParquetFileReader.open(InputFile)` alone builds them
    * from a fresh Hadoop `Configuration`, which re-reads the `core-*.xml`
    * defaults off the classpath: 12–15 ms per footer of a small store file
    * on a 4-core host with Spark's jars on the classpath, against 1.1 ms
    * with `conf`.
    */
  private[graft] def openFooter(p: Path, conf: Configuration): ParquetFileReader =
    ParquetFileReader.open(HadoopInputFile.fromPath(p, conf),
      HadoopReadOptions.builder(conf, p).build())

  /** One file's stats line from its parquet footer: row count, `time_ns`
    * and `pod` bounds, and every tracked leaf column's whole-file min/max.
    */
  private def footerStat(key: String, len: Long,
      footer: org.apache.parquet.hadoop.metadata.ParquetMetadata,
      timeColumn: String = "time_ns", podColumn: String = "pod"): FileStat = {
    val blocks = footer.getBlocks
    val nBlocks = blocks.size()
    // exact string stats only from parquet-mr footers (see [[ColStat]]);
    // the metadata API surfaces no per-column exactness flag, so writer
    // identity is the gate
    val exactStrings = Option(footer.getFileMetaData.getCreatedBy)
      .exists(_.startsWith("parquet-mr"))
    var rows = 0L
    var mn, mx = Option.empty[Long]
    var pmn, pmx = Option.empty[String]
    var statsOk = true
    var podOk = true
    // per-column whole-file accumulators — a column is usable only when
    // EVERY block witnessed non-null stats for it
    final class Acc(val kind: Char) {
      var ok = true; var blocksSeen = 0
      var loL, hiL = 0L; var loD, hiD = 0.0d
      var loS, hiS: String = null
    }
    val acc = scala.collection.mutable.HashMap.empty[String, Acc]
    val bit = blocks.iterator()
    while (bit.hasNext) {
      val b = bit.next()
      rows += b.getRowCount
      val cols = b.getColumns
      var foundT = false
      var foundP = false
      val cit = cols.iterator()
      while (cit.hasNext) {
        val c = cit.next()
        val name = c.getPath.toDotString
        val st = c.getStatistics
        val usable = st != null && !st.isEmpty &&
          st.getNumNulls < b.getRowCount &&
          st.genericGetMin != null && st.genericGetMax != null
        val kind: Char = statKind(c.getPrimitiveType)
        if (kind != ' ') {
          val a = acc.getOrElseUpdate(name, new Acc(kind))
          if (a.kind != kind || !usable) a.ok = false
          else {
            a.blocksSeen += 1
            kind match {
              case 'l' =>
                val lo = st.genericGetMin.asInstanceOf[Number].longValue()
                val hi = st.genericGetMax.asInstanceOf[Number].longValue()
                if (a.blocksSeen == 1) { a.loL = lo; a.hiL = hi }
                else { a.loL = math.min(a.loL, lo); a.hiL = math.max(a.hiL, hi) }
              case 'd' =>
                val lo = st.genericGetMin.asInstanceOf[Number].doubleValue()
                val hi = st.genericGetMax.asInstanceOf[Number].doubleValue()
                if (lo.isNaN || hi.isNaN) a.ok = false
                else if (a.blocksSeen == 1) { a.loD = lo; a.hiD = hi }
                else { a.loD = math.min(a.loD, lo); a.hiD = math.max(a.hiD, hi) }
              case 's' =>
                val lo = st.minAsString; val hi = st.maxAsString
                if (lo == null || hi == null) a.ok = false
                else if (a.blocksSeen == 1) { a.loS = lo; a.hiS = hi }
                else {
                  // merge in UTF-8 BYTE order — the ordering each block's
                  // own min/max already obeys (parquet compares unsigned
                  // bytes). Java's UTF-16 `<` disagrees above U+E000 vs
                  // supplementary characters, and a bound merged under the
                  // wrong ordering is one a future consumer could wrongly
                  // trust
                  if (utf8Lt(lo, a.loS)) a.loS = lo
                  if (utf8Lt(a.hiS, hi)) a.hiS = hi
                }
            }
          }
        }
        if (name == timeColumn) {
          foundT = true
          if (!usable) statsOk = false
          else {
            val lo = st.genericGetMin.asInstanceOf[Number].longValue()
            val hi = st.genericGetMax.asInstanceOf[Number].longValue()
            mn = Some(mn.fold(lo)(math.min(_, lo)))
            mx = Some(mx.fold(hi)(math.max(_, hi)))
          }
        } else if (name == podColumn) {
          foundP = true
          if (st == null || st.isEmpty) podOk = false
          else {
            val lo = st.minAsString; val hi = st.maxAsString
            if (lo == null || hi == null) podOk = false
            else {
              // same UTF-8 byte-order merge as the generic column
              // accumulators (identical for the ASCII names the consumer
              // is willing to prune on)
              pmn = Some(pmn.fold(lo)(p => if (utf8Lt(lo, p)) lo else p))
              pmx = Some(pmx.fold(hi)(p => if (utf8Lt(p, hi)) hi else p))
            }
          }
        }
      }
      if (!foundT) statsOk = false
      if (!foundP) podOk = false
    }
    val colStats = acc.iterator.collect {
      case (n, a) if a.ok && a.blocksSeen == nBlocks =>
        n -> (a.kind match {
          case 'l' => ColStat('l', a.loL.toString, a.hiL.toString)
          case 'd' => ColStat('d', a.loD.toString, a.hiD.toString)
          case 's' => ColStat(if (exactStrings) 's' else 'S', a.loS, a.hiS)
        })
    }.filter { case (_, c) =>
      c.min.length <= MaxStatStringLen && c.max.length <= MaxStatStringLen
    }.toSeq.sortBy(_._1).take(MaxStatCols).toMap
    FileStat(key, len, rows,
      if (statsOk) mn else None, if (statsOk) mx else None,
      if (podOk) pmn else None, if (podOk) pmx else None,
      colStats)
  }

  /** Write `dir`'s stats sidecar for the given composite file set, reusing
    * `prior` lines whose (key, len) still match — the per-commit O(delta)
    * path. Returns the written stats.
    */
  def refreshInto(spark: SparkSession, dir: String,
      files: Seq[GraftStore.FileEntry],
      prior: Map[String, FileStat]): Seq[FileStat] = {
    val (kept, fresh) = files.partition(f =>
      prior.get(f.key).exists(_.len == f.len))
    val computed = collect(spark, fresh.map(f => (f.key, f.physical, f.len)))
    val all = kept.map(f => prior(f.key)) ++ computed
    write(spark, dir, all)
    all
  }

  /** Data files under `dir` (recursive), keyed by dir-relative path — the
    * self-contained-directory analogue of [[GraftStore.compositeEntries]],
    * with the same visibility rule ([[GraftStore.walkFiles]] `dataOnly`).
    */
  def listDirEntries(spark: SparkSession, dir: String): Seq[GraftStore.FileEntry] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return Seq.empty
    val base = p.toUri.getPath
    GraftStore.walkFiles(fs, p, dataOnly = true).map { f =>
      GraftStore.FileEntry(f.getPath.toUri.getPath.stripPrefix(base), dir,
        f.getPath.toString, f.getLen, f.getModificationTime)
    }.toSeq
  }

  /** Stamp a self-contained directory (a staged or fresh version tree)
    * with its sidecar, reusing `prior` lines by (key, len).
    */
  def refreshDir(spark: SparkSession, dir: String,
      prior: Map[String, FileStat] = Map.empty): Seq[FileStat] =
    refreshInto(spark, dir, listDirEntries(spark, dir), prior)

  /** Exact row count of snapshot `n` from the stats sidecar alone — `Some`
    * only when EVERY composite data file has a fresh line (key AND length
    * match), in which case the sum of footer-derived per-file counts equals
    * what a full `count()` would return. `None` → the caller falls back to
    * counting. This is what makes commit-time count verification O(metadata
    * objects) instead of O(file footers) — the difference between a listing
    * and 10⁸ footer opens on a 100 TB store.
    */
  def rowCountFromStats(spark: SparkSession, root: String, n: Int,
      files: Option[Seq[GraftStore.FileEntry]] = None): Option[Long] = {
    val dir = GraftStore.resolveVersion(spark, root, n)
    val stats = read(spark, dir)
    if (stats.isEmpty) return None
    val entries = files.getOrElse(GraftStore.compositeEntries(spark, root, n))
    if (entries.forall(e => stats.get(e.key).exists(_.len == e.len)))
      Some(entries.iterator.map(e => stats(e.key).rows).sum)
    else None
  }

  /** Stored row count of snapshot `n` (deletion vectors not applied) over
    * its already-listed `files`: 0 with no files, the sidecar's sum when it
    * covers every file, else a scan. Commits verify a staged snapshot with
    * it.
    */
  def physicalRows(spark: SparkSession, root: String, n: Int,
      files: Seq[GraftStore.FileEntry]): Long =
    if (files.isEmpty) 0L
    else rowCountFromStats(spark, root, n, Some(files))
      .getOrElse(GraftStore.readVersionPhysical(spark, root, n, Some(files)).count())

  /** Recompute the live snapshot's sidecar from scratch-or-prior — the
    * backfill/repair entry point (pre-stats stores, foreign writers). It
    * stamps the LIVE version dir.
    */
  def refresh(spark: SparkSession, root: String): Seq[FileStat] = {
    val cur = GraftStore.liveVersionOf(spark, root)
    val dir = GraftStore.resolveVersion(spark, root, cur)
    refreshInto(spark, dir, GraftStore.compositeEntries(spark, root, cur),
      read(spark, dir))
  }
}
