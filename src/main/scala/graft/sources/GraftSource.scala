package graft.sources

import graft.logs.{AppendCommit, DeleteVectors, FileStats, GraftStore}
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SparkSession, SQLContext}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And => CAnd, Attribute, EqualNullSafe => CEqualNullSafe, EqualTo => CEqualTo, Expression, GreaterThan => CGreaterThan, GreaterThanOrEqual => CGreaterThanOrEqual, In => CIn, InSet => CInSet, LessThan => CLessThan, LessThanOrEqual => CLessThanOrEqual, Literal, Or => COr, StartsWith => CStartsWith}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, PartitionDirectory, PartitioningUtils}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetOptions, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.unsafe.types.UTF8String
import scala.util.control.NonFatal

/** `spark.read.format("graft")` / `df.write.format("graft")` — the versioned
  * store as an ordinary Spark data source (registered short name, so plain
  * SQL `CREATE TABLE ... USING graft` works too).
  *
  * This is the store's one snapshot read
  * ([[GraftSourceProvider.snapshot]]): `y-logcli`'s hive queries
  * ([[graft.logs.LogQuery]]), every [[GraftStore.readStore]] /
  * `readVersion*` read of the store jobs, and [[GraftStore.rowDiff]]'s
  * sides plan through it, and so does a reference operator switching to
  * the library — every store behavior (composite manifests, schema
  * overlays, deletion vectors, stats-based data skipping) applies without
  * the reader knowing any of those exist. Reference anchor:
  * the reader side of the store contract (`y-logcli:106-123` resolves globs
  * against the committed tree; here the committed tree resolves against
  * `_current`).
  *
  * Read options:
  *   - `versionAsOf` (int) / `timestampAsOf` (epoch-millis, ISO-8601
  *     instant, or `yyyy-MM-dd HH:mm:ss` UTC): time travel — mutually
  *     exclusive.
  *   - `sinceNs` (long) / `pod` (string): the reference CLI's `--since` /
  *     pod-probe shortcuts — the same `time_ns >=` / `pod =` filters over
  *     the snapshot relation that `.filter($"time_ns" >= cutoff)` spells
  *     natively (the preferred spelling); pushed down, they prune the file
  *     list like any other filter.
  *
  * Planning lists the snapshot once, into the [[GraftFileIndex]], and runs
  * no Spark job unless schemas merge: a non-merging schema comes from one
  * footer read on the driver ([[GraftSourceProvider.inferSchema]]). A
  * global sort over a fast-tier scan whose pruned files fit one scan split
  * sorts in that scan task, with no range exchange
  * ([[graft.plans.SmallScanSort]]).
  *
  * Execution: two tiers, chosen per snapshot.
  *   - FAST (no live deletion vectors): a [[GraftFileIndex]] lists exactly
  *     the snapshot's composite files and Spark plans a native
  *     [[HadoopFsRelation]] parquet scan over it — vectorized reader,
  *     whole-stage codegen, parquet predicate pushdown and column pruning
  *     all apply, and the index drops files whose `_graft_filestats` range
  *     excludes the pushed `time_ns`/`pod` conjuncts BEFORE any footer is
  *     opened (Delta/Iceberg data skipping; at ~1 MB objects a 100 TB store
  *     is ~10⁸ footers, so the file list is the tier that matters).
  *     Schema-overlay columns ride natively: they join the declared data
  *     schema and the parquet reader null-fills files that lack them.
  *   - WRAPPED (deletion vectors pending, or `sinceNs`/`pod` options): the
  *     scan delegates to a frame over the fast tier's relation with the DV
  *     anti-join (or the option filters) on top; pushed filters and required
  *     columns are re-applied INSIDE the delegate frame, reaching its
  *     parquet scan.
  *     Merge-on-read debt costs this detour only until compaction
  *     materializes the vectors, which returns the store to the fast tier.
  *
  * Writes: `mode("append")` commits through [[AppendCommit]] — staged
  * invisibly, published atomically, exactly-once under an optional
  * `commitId`, versioned with a grace snapshot. Other modes are refused:
  * overwrite of a versioned store is a maintenance operation (compaction /
  * retention), not a side effect of a write.
  */
class GraftSourceProvider extends RelationProvider with SchemaRelationProvider
    with CreatableRelationProvider with StreamSourceProvider
    with StreamSinkProvider with DataSourceRegister {

  override def shortName(): String = "graft"

  // ---- streaming write: micro-batches as atomic commits ------------------

  /** `df.writeStream.format("graft")` — see [[graft.streaming.GraftStreamSink]].
    *
    * Options: `partitionColumns` (comma list; `.partitionBy(...)` also
    * works), `maxRecordsPerFile`, `retainSnapshots` (raise when lagging
    * stream READERS tail this store), `refreshViews` (comma list of
    * [[graft.logs.MatView]] dirs to catch up after each commit).
    */
  override def createSink(sqlContext: SQLContext,
      parameters: Map[String, String], partitionColumns: Seq[String],
      outputMode: org.apache.spark.sql.streaming.OutputMode)
      : org.apache.spark.sql.execution.streaming.Sink = {
    val spark = sqlContext.sparkSession
    val root = normRoot(parameters.getOrElse("path",
      throw new IllegalArgumentException(
        "graft sink needs a path: df.writeStream.format(\"graft\").start(<store root>)")))
    require(outputMode == org.apache.spark.sql.streaming.OutputMode.Append(),
      s"graft streaming sink commits appends; got $outputMode — aggregate " +
        "under a watermark in append mode, or upsert via " +
        "LogStreamIngest.startUpsertSink")
    val partCols =
      if (partitionColumns.nonEmpty) partitionColumns
      else parameters.get("partitionColumns")
        .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
        .getOrElse(Seq.empty)
    graft.logs.LogIngest.ensureStore(spark, root)
    // replay detection keys on (sinkId, batchId); the sink id derives from
    // the EFFECTIVE checkpoint so it is stable across restarts and two
    // queries with different checkpoints never collide on a store. Spark
    // resolves the durable checkpoint AFTER sink creation, so mirror
    // StreamingQueryManager's rule here: the explicit writer option, else
    // spark.sql.streaming.checkpointLocation + queryName (both in
    // `parameters`). With neither — including conf-without-queryName,
    // where Spark itself picks a fresh random subdirectory per start —
    // there is no durable checkpoint identity and no cross-restart replay
    // to defend against, so a per-query-run id suffices. The path is
    // FS-qualified before hashing so two spellings of one directory agree.
    val effectiveCheckpoint = parameters.get("checkpointLocation")
      .orElse(spark.sessionState.conf.checkpointLocation.flatMap(root0 =>
        parameters.get("queryName").map(n =>
          new org.apache.hadoop.fs.Path(root0, n).toString)))
    val sinkId = graft.logs.GraftStore.sinkIdFor(
      effectiveCheckpoint.map { cp =>
        val p = new org.apache.hadoop.fs.Path(cp)
        try p.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .makeQualified(p).toString
        catch { case _: java.io.IOException => p.toString }
      }.getOrElse(java.util.UUID.randomUUID().toString))
    new graft.streaming.GraftStreamSink(spark, root, sinkId,
      partitionCols = partCols,
      maxRecordsPerFile = parameters.get("maxRecordsPerFile")
        .map(_.trim.toLong).getOrElse(1000000L),
      retainSnapshots = parameters.get("retainSnapshots")
        .map(_.trim.toInt).getOrElse(1),
      refreshViews = parameters.get("refreshViews")
        .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
        .getOrElse(Seq.empty))
  }

  // ---- streaming read: tail store commits ([[GraftStreamSource]]) --------

  override def sourceSchema(sqlContext: SQLContext,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): (String, StructType) = {
    // this is the load()-time call: validate options HERE so a bad stream
    // definition fails when written, not when the query starts
    validateStreamOptions(sqlContext, parameters)
    val data = schema.getOrElse(streamDataSchema(sqlContext, parameters))
    val full =
      if (isCdc(parameters))
        StructType(data.fields :+ org.apache.spark.sql.types.StructField(
          "_change", org.apache.spark.sql.types.StringType, nullable = false))
      else data
    (shortName(), full)
  }

  override def createSource(sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): org.apache.spark.sql.execution.streaming.Source = {
    val spark = sqlContext.sparkSession
    val root = validateStreamOptions(sqlContext, parameters)
    new graft.streaming.GraftStreamSource(spark, root,
      schema.getOrElse(streamDataSchema(sqlContext, parameters)),
      parameters.getOrElse("startingVersion", "latest"), isCdc(parameters),
      metadataPath)
  }

  private def isCdc(parameters: Map[String, String]): Boolean =
    parameters.get("cdc").exists(_.trim.equalsIgnoreCase("true"))

  /** Check stream options and that the root is a store; returns the
    * normalized root.
    */
  private def validateStreamOptions(sqlContext: SQLContext,
      parameters: Map[String, String]): String = {
    val root = normRoot(parameters.getOrElse("path",
      throw new IllegalArgumentException(
        "graft stream needs a path: spark.readStream.format(\"graft\").load(<store root>)")))
    GraftStore.requireStore(sqlContext.sparkSession, root)
    val starting = parameters.getOrElse("startingVersion", "latest")
    require(starting == "latest" || starting.trim.matches("\\d+"),
      s"startingVersion must be 'latest' or a version number, got '$starting'")
    root
  }

  /** Data schema for the stream: the live snapshot's batch-relation schema
    * (overlays applied, partition columns included) — commits only append
    * or overlay-add columns, so the live schema covers every retained
    * version's rows.
    */
  private def streamDataSchema(sqlContext: SQLContext,
      parameters: Map[String, String]): StructType =
    createRelation(sqlContext,
      parameters - "startingVersion" - "cdc").schema

  override def createRelation(sqlContext: SQLContext,
      parameters: Map[String, String]): BaseRelation =
    createRelationImpl(sqlContext, parameters, None)

  /** `.schema(...)` spelling: the user schema stands in for parquet
    * inference — the one way to read a freshly-initialized store that has
    * no files and no overlay yet.
    */
  override def createRelation(sqlContext: SQLContext,
      parameters: Map[String, String], schema: StructType): BaseRelation =
    createRelationImpl(sqlContext, parameters, Some(schema))

  private def createRelationImpl(sqlContext: SQLContext,
      parameters: Map[String, String],
      userSchema: Option[StructType]): BaseRelation = {
    val spark = sqlContext.sparkSession
    val root = normRoot(parameters.getOrElse("path",
      throw new IllegalArgumentException(
        "graft source needs a path: spark.read.format(\"graft\").load(<store root>)"))
    )
    GraftStore.requireStore(spark, root)
    val verOpt = parameters.get("versionAsOf").map(_.trim.toInt)
    val tsOpt = parameters.get("timestampAsOf").map(parseTimestampMillis)
    require(verOpt.isEmpty || tsOpt.isEmpty,
      "versionAsOf and timestampAsOf are mutually exclusive")
    val sinceOpt = parameters.get("sinceNs").map(_.trim.toLong)
    val podOpt = parameters.get("pod")
    require((sinceOpt.isEmpty && podOpt.isEmpty) || (verOpt.isEmpty && tsOpt.isEmpty),
      "sinceNs/pod apply to the live snapshot only — combine time travel " +
        "with an explicit filter instead")

    if (sinceOpt.nonEmpty || podOpt.nonEmpty) {
      // CLI-parity spelling: the native filters over the live snapshot —
      // pushed into its file index, they drop files the stats exclude
      val snapshot = spark.baseRelationToDataFrame(createRelationImpl(
        sqlContext, parameters - "sinceNs" - "pod", userSchema))
      val df = (sinceOpt.map(col("time_ns") >= _) ++ podOpt.map(col("pod") === _))
        .foldLeft(snapshot)(_.filter(_))
      return new GraftFrameRelation(sqlContext, df)
    }

    val version = verOpt.getOrElse(tsOpt match {
      case Some(ms) => GraftStore.versionAsOf(spark, root, ms)
      case None => GraftStore.currentVersion(spark, root)
    })
    GraftSourceProvider.snapshot(spark, root, version, userSchema).relation
  }

  override def createRelation(sqlContext: SQLContext, mode: SaveMode,
      parameters: Map[String, String], data: DataFrame): BaseRelation = {
    val spark = sqlContext.sparkSession
    val root = normRoot(parameters.getOrElse("path",
      throw new IllegalArgumentException(
        "graft sink needs a path: df.write.format(\"graft\").save(<store root>)")))
    require(mode == SaveMode.Append,
      s"graft writes are atomic APPEND commits; got $mode — overwrite of a " +
        "versioned store is maintenance (compaction/retention), not a write mode")
    // a missing or empty root becomes a fresh store; any other directory
    // without `_current` is refused by the commit below
    graft.logs.LogIngest.ensureStore(spark, root)
    // `.partitionBy(...)` reaches a v1 source as the JSON-encoded
    // __partition_columns option — honor it like the explicit option, or a
    // partitioned write would silently stage FLAT against the store layout
    val partitionCols = parameters.get("partitionColumns")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
      .orElse(parameters
        .get(org.apache.spark.sql.execution.datasources.DataSourceUtils
          .PARTITIONING_COLUMNS_KEY)
        .map(org.apache.spark.sql.execution.datasources.DataSourceUtils
          .decodePartitioningColumns))
      .getOrElse(Seq.empty)
    AppendCommit.commit(data, root,
      partitionCols = partitionCols,
      commitId = parameters.get("commitId"))
    // the written batch's schema backs the returned relation even when the
    // commit published zero files (an empty first append is still a store)
    createRelationImpl(sqlContext, Map("path" -> root), Some(data.schema))
  }

  /** Spark's SQL surface normalizes the `path` option to a qualified URI
    * (`file:/tmp/...`); strip a local scheme once here so a root names the
    * same store path (file entries, lease, error messages) however it was
    * spelled. Non-local schemes (the S3 tier) pass through untouched.
    */
  private def normRoot(raw: String): String = {
    val uri = new Path(raw).toUri
    if (uri.getScheme == null || uri.getScheme == "file") uri.getPath else raw
  }

  /** `timestampAsOf` accepts epoch-millis, ISO-8601 instants,
    * `yyyy-MM-dd HH:mm:ss` (UTC), and bare `yyyy-MM-dd` dates (midnight
    * UTC — the most natural time-travel spelling); anything else fails
    * with an error that names the accepted formats, not a raw parser
    * stack trace.
    */
  private def parseTimestampMillis(s: String): Long = {
    val t = s.trim
    if (t.matches("-?\\d+")) t.toLong
    else if (t.matches("\\d{4}-\\d{2}-\\d{2}"))
      java.time.LocalDate.parse(t).atStartOfDay(java.time.ZoneOffset.UTC)
        .toInstant.toEpochMilli
    else try java.time.Instant.parse(t).toEpochMilli
    catch {
      case _: java.time.format.DateTimeParseException =>
        try java.time.LocalDateTime
          .parse(t.replace(' ', 'T'))
          .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
        catch {
          case _: java.time.format.DateTimeParseException =>
            throw new IllegalArgumentException(
              s"timestampAsOf '$s' is not a recognized time: pass " +
                "epoch-millis, an ISO-8601 instant (2026-01-02T03:04:05Z), " +
                "'yyyy-MM-dd HH:mm:ss' (UTC), or a bare 'yyyy-MM-dd' date")
        }
    }
  }
}

private[graft] object GraftSourceProvider {

  /** One resolved snapshot of a store: the fast-tier relation over its
    * [[GraftFileIndex]].
    *
    * @param dir the version directory the sidecars are read from
    */
  final class Snapshot(spark: SparkSession, dir: String,
      entries: Seq[GraftStore.FileEntry], index: GraftFileIndex,
      val fast: HadoopFsRelation) {

    private lazy val dv = DeleteVectors.read(spark, dir)

    /** The snapshot's rows: the fast-tier scan, with pending deletion
      * vectors applied as a filter over it.
      */
    def rows: DataFrame = {
      val scan = spark.baseRelationToDataFrame(fast)
      if (dv.isEmpty) scan
      else DeleteVectors.applyTo(spark, DeleteVectors.tagMeta(scan), dv, entries)
    }

    /** [[rows]] as one relation: the fast tier, or under pending deletion
      * vectors the frame tier over [[rows]] — the vector filter is a
      * DataFrame operator the native file-scan tier can't express, so
      * merge-on-read debt costs this detour until compaction materializes
      * the vectors.
      */
    def relation: BaseRelation = {
      if (dv.isEmpty) return fast
      // DV-aware metadata tier: the deletes sidecar knows EXACT per-file
      // deleted counts, so live row counts are physical(stats) − deleted —
      // [[GraftMetadataAggregate]] keeps answering COUNT with zero I/O even
      // under merge-on-read debt. Built only when the snapshot is fully
      // self-describing: fresh stats on every file, every vector keyed to a
      // present entry with matching length (a mismatch must FAIL the scan,
      // never be answered around).
      val byKey = entries.map(e => (e.key, e)).toMap
      val consistent = dv.forall { case (k, v) => byKey.get(k).forall(_.len == v.len) }
      val dvMeta =
        if (!consistent) None
        else index.statsWithDeletes(dv.map { case (k, v) => (k, v.positions) })
          .map(GraftDvMeta(index.partitionSchema, _))
      new GraftFrameRelation(spark.sqlContext, rows, dvMeta)
    }
  }

  /** THE snapshot read, built on the driver: `version` of the store at
    * `root` → its data files, schema
    * overlay, stats, bucket claim and [[GraftFileIndex]], with no Spark job
    * unless schemas merge. `format("graft")` and every
    * [[GraftStore.readVersion]]-family read plan through it.
    *
    * @param files a subset of the snapshot's files, to read only those
    */
  def snapshot(spark: SparkSession, root: String, version: Int,
      userSchema: Option[StructType] = None,
      files: Option[Seq[GraftStore.FileEntry]] = None): Snapshot = {
    val dir = GraftStore.resolveVersion(spark, root, version)
    val entries = files.getOrElse(GraftStore.compositeEntries(spark, root, version))
    val overlay = GraftStore.readSchemaOverlay(spark, dir)
    val statsByKey = FileStats.read(spark, dir)
    val statsByPhysical = entries.flatMap { e =>
      statsByKey.get(e.key).filter(_.len == e.len)
        .map(s => GraftFileIndex.normPath(e.physical) -> s)
    }.toMap
    val legDirs = entries.map(_.legBase).distinct.sorted.map(new Path(_))
    val index = new GraftFileIndex(spark, legDirs, entries, statsByPhysical)
    // mergeSchema when evolved: one holder dir can mix pre- and
    // post-evolution files, and one sampled footer would hide the physical
    // column from half the rows
    val fmtOptions =
      if (overlay.nonEmpty) Map("mergeSchema" -> "true") else Map.empty[String, String]
    val partCols = index.partitionSchema.fieldNames.toSet
    // the footer is the one Spark's read of the FIRST leg (the version's own
    // directory, else the first carried holder) opens. A footer that also
    // holds a partition column keeps it in the data schema, where
    // HadoopFsRelation places it at its data position, as Spark's reader
    // does; a user schema's partition columns go last, as in Spark.
    val firstLeg = entries.map(_.legBase).minByOption(b => (b != dir, b))
    // an empty snapshot (freshly initialized store, or a first append that
    // committed zero files) is an empty DataFrame, not an error — like any
    // parquet/Delta reader; its schema comes from the user or the overlay
    val inferred: StructType = userSchema
      .map(s => StructType(s.filterNot(f => partCols(f.name))))
      .getOrElse {
        if (entries.isEmpty) new StructType()
        else inferSchema(spark, fmtOptions, entries
            .filter(e => overlay.nonEmpty || firstLeg.contains(e.legBase))
            .map(GraftFileIndex.statusOf))
          .getOrElse(throw new IllegalStateException(
            s"could not infer a parquet schema for $root"))
      }
    val dataSchema = overlay.foldLeft(inferred) { case (s, (n, t)) =>
      if (s.fieldNames.contains(n) || partCols(n)) s
      else s.add(n, DataType.fromDDL(t), nullable = true)
    }
    require(dataSchema.nonEmpty || partCols.nonEmpty,
      s"$root is empty and declares no schema — pass .schema(...) or commit data first")
    // bucket-layout claim ([[ClusterSpec.BucketBy]] maintenance): honored
    // only when every snapshot file's NAME parses a bucket id < N with
    // Spark's own parser (graftshim.GraftShim.bucketId) — a plain append or
    // an unbucketed carried partition fails the claim open to an ordinary
    // scan. When honored, the relation reports
    // HashPartitioning(key, N), so joins/aggregates on the bucket key plan
    // with ZERO shuffle exchanges — the 100 TB co-located-join story served
    // directly from the store.
    val bucketSpec: Option[org.apache.spark.sql.catalyst.catalog.BucketSpec] =
      GraftStore.readBucketSpec(spark, dir).collect {
        case (key, n) if entries.nonEmpty &&
            dataSchema.fieldNames.contains(key) &&
            entries.forall(e =>
              org.apache.spark.sql.graftshim.GraftShim
                .bucketId(new Path(e.physical).getName)
                .exists(b => b >= 0 && b < n)) =>
          org.apache.spark.sql.catalyst.catalog.BucketSpec(n, Seq(key), Seq(key))
      }
    new Snapshot(spark, dir, entries, index,
      HadoopFsRelation(index, index.partitionSchema,
        org.apache.spark.sql.graftshim.GraftShim.asNullable(dataSchema), bucketSpec,
        new ParquetFileFormat, fmtOptions)(spark))
  }

  /** The data schema `ParquetFileFormat.inferSchema` reports for `files`,
    * without its Spark job. Unless schemas merge (the option, or the
    * session's `spark.sql.parquet.mergeSchema`), Spark's inference reads ONE
    * footer — the first data file by path — in a one-task job, a fixed cost
    * on every query's planning. Reading that footer here, with the same
    * Spark-schema-key lookup and the session's converter, gives the same
    * schema on the driver. Merging reads every footer, so it keeps Spark's
    * distributed inference.
    */
  def inferSchema(spark: SparkSession, options: Map[String, String],
      files: Seq[FileStatus]): Option[StructType] = {
    val conf = spark.sessionState.conf
    val parquetOptions = new ParquetOptions(options, conf)
    if (parquetOptions.mergeSchema)
      new ParquetFileFormat().inferSchema(spark, options, files)
    else files.minByOption(_.getPath.toString).flatMap { first =>
      val input = HadoopInputFile.fromStatus(first,
        spark.sessionState.newHadoopConfWithOptions(options))
      val footer =
        try Some(new Footer(first.getPath, ParquetFooterReader.readFooter(
          input, ParquetMetadataConverter.SKIP_ROW_GROUPS)))
        catch {
          // what Spark's inference does with an unreadable footer
          case NonFatal(_) if parquetOptions.ignoreCorruptFiles => None
        }
      footer.map(ParquetFileFormat.readSchemaFromFooter(_,
        new ParquetToSparkSchemaConverter(conf)))
    }
  }
}

/** File index of ONE store snapshot, built FROM THE MANIFEST — the commit
  * already names every composite file (own + carried legs), so the index
  * never re-lists the filesystem: at the reference's ~1 MB object size a
  * 100 TB store is ~10⁸ objects, and "the manifest IS the listing" is the
  * difference between an O(1)-ish metadata read and 10⁸ LIST calls (the
  * Delta/Iceberg log-over-listing play). Membership is exact: a carried
  * holder directory may contain other versions' files and a live directory
  * may gain appends, but only manifest entries exist here — including legs
  * under `_`-prefixed staged-append directories that Spark's own listing
  * would hide.
  *
  * Partition columns parse from each entry's layout-relative path (`k=v`
  * segments, per leg — exactly what the engine's per-leg `basePath` reads
  * infer), so partition pruning composes with stats skipping: partition
  * filters cut directories, commit-time `_graft_filestats` ranges cut
  * files on pushed `time_ns`/`pod` conjuncts BEFORE any footer is opened,
  * and parquet row-group stats cut pages — the three-tier funnel a 100 TB
  * scan needs. Stats lines that are absent or stale (length mismatch) fail
  * open: skipping is an optimization, never correctness — Spark
  * re-evaluates every pushed predicate on the rows that survive.
  */
private[graft] class GraftFileIndex(
    spark: SparkSession,
    legDirs: Seq[Path],
    entries: Seq[GraftStore.FileEntry],
    stats: Map[String, FileStats.FileStat])
  extends org.apache.spark.sql.execution.datasources.FileIndex {

  import GraftFileIndex._

  private val zoneId = java.time.ZoneId.of(
    spark.sessionState.conf.sessionLocalTimeZone)

  /** `k=v` directory segments of one entry's layout-relative key. Column
    * NAMES are decoded here; VALUES stay in their on-disk escaped form —
    * Spark's `castPartValueToDesiredType` runs `unescapePathName` itself
    * for string/date types, so decoding here too would strip one escape
    * level twice (`a%252Fb` → `a/b` instead of `a%2Fb`).
    */
  private def kvSegments(e: GraftStore.FileEntry): Seq[(String, String)] =
    e.key.split('/').filter(_.nonEmpty).dropRight(1).toSeq
      .takeWhile(_.contains('='))
      .map { seg =>
        val i = seg.indexOf('=')
        (unescapePath(seg.substring(0, i)), seg.substring(i + 1))
      }

  private val perEntryKv: Seq[(GraftStore.FileEntry, Seq[(String, String)])] =
    entries.map(e => (e, kvSegments(e)))

  private val partColNames: Seq[String] = {
    val names = perEntryKv.map(_._2.map(_._1)).distinct
    require(names.size <= 1,
      s"inconsistent partition layouts across snapshot files: $names")
    names.headOption.getOrElse(Seq.empty) // empty snapshot: no partitioning
  }

  override val partitionSchema: StructType = {
    val byCol = partColNames.indices.map { i =>
      perEntryKv.map(_._2(i)._2).filterNot(_ == HiveNullPartition).distinct
    }
    StructType(partColNames.zip(byCol).map { case (n, vals) =>
      org.apache.spark.sql.types.StructField(n, inferPartType(vals), nullable = true)
    })
  }

  /** (partition values row, its files) — the snapshot's partition dirs. */
  private val partitions: Seq[(InternalRow, Seq[Any], Seq[GraftStore.FileEntry])] =
    perEntryKv.groupBy(_._2.map(_._2)).toSeq.sortBy(_._1.mkString("/"))
      .map { case (raws, es) =>
        val vals = raws.zipWithIndex.map { case (raw, i) =>
          if (raw == HiveNullPartition) null
          else PartitioningUtils.castPartValueToDesiredType(
            partitionSchema(i).dataType, raw, zoneId)
        }
        (InternalRow.fromSeq(vals), vals, es.map(_._1))
      }

  override def rootPaths: Seq[Path] = legDirs

  override def refresh(): Unit = () // a snapshot is immutable

  override lazy val sizeInBytes: Long = entries.map(_.len).sum

  override def inputFiles: Array[String] = entries.map(_.physical).toArray

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val kept =
      if (partitionFilters.isEmpty) partitions
      else {
        val bound = partitionFilters
          .reduce(org.apache.spark.sql.catalyst.expressions.And)
          .transform {
            case a: org.apache.spark.sql.catalyst.expressions.AttributeReference =>
              val i = partitionSchema.fieldIndex(a.name)
              org.apache.spark.sql.catalyst.expressions.BoundReference(
                i, partitionSchema(i).dataType, nullable = true)
          }
        val pred = org.apache.spark.sql.catalyst.expressions.Predicate
          .createInterpreted(bound)
        partitions.filter(p => pred.eval(p._1))
      }
    val (lo, hi, pod) = bounds(dataFilters)
    val ranges = colRanges(dataFilters)
    def keep(e: GraftStore.FileEntry): Boolean =
      stats.get(normPath(e.physical)) match {
        case Some(s) if s.len == e.len =>
          lo.forall(s.mayOverlapSince) &&
            hi.forall(h => s.minNs.forall(_ <= h)) &&
            pod.forall(s.mayContainPod) &&
            // generalized column skipping: any pushed window a column's
            // whole-file min/max refutes drops the file; absent stats keep
            ranges.forall { case (n, r) => s.cols.get(n).forall(r.overlaps) }
        case _ => true // no/stale stats: always scan
      }
    kept.flatMap { case (row, _, es) =>
      val files = es.filter(keep)
      if (files.isEmpty) None
      else Some(PartitionDirectory(row, files.map(statusOf).toArray))
    }
  }

  /** Commit-time stats for every snapshot file — `Some` only when EVERY
    * file has a fresh sidecar line (key AND length match), so a consumer
    * ([[GraftMetadataAggregate]]) can answer count/min/max with ZERO data
    * I/O and zero staleness risk: a file written outside the commit
    * protocol has no fresh line and disables the shortcut wholesale.
    */
  lazy val completeStats: Option[Seq[FileStats.FileStat]] = {
    val lines = entries.map(e => stats.get(normPath(e.physical))
      .filter(_.len == e.len))
    if (entries.nonEmpty && lines.forall(_.nonEmpty)) Some(lines.map(_.get))
    else None
  }

  /** [[completeStats]] grouped by partition values (laid out in
    * [[partitionSchema]] order) — lets a consumer answer partition-grouped
    * aggregates (`GROUP BY date`) from metadata alone. Same completeness
    * gate as the global shortcut.
    */
  lazy val statsByPartitionValues: Option[Seq[(Seq[Any], Seq[FileStats.FileStat])]] =
    completeStats.map { _ =>
      partitions.map { case (_, vals, es) =>
        (vals, es.flatMap(e => stats.get(normPath(e.physical))))
      }
    }

  /** [[statsByPartitionValues]] extended with each dir's DELETED-row total
    * (from a live deletion-vector sidecar, keyed by the same store-layout
    * key the manifest uses). Vectors keyed to files absent from the
    * snapshot are inert (never counted); same completeness gate as the
    * vector-free shortcut.
    */
  def statsWithDeletes(deletedByKey: Map[String, Long])
      : Option[Seq[(Seq[Any], Seq[FileStats.FileStat], Long)]] =
    completeStats.map { _ =>
      partitions.map { case (_, vals, es) =>
        (vals,
          es.flatMap(e => stats.get(normPath(e.physical))),
          es.map(e => deletedByKey.getOrElse(e.key, 0L)).sum)
      }
    }
}

/** Metadata carried by the DV-tier relation for [[graft.plans.GraftMetadataAggregate]]:
  * per partition dir, the commit-time file stats AND the exact deleted-row
  * total, so COUNT under merge-on-read debt is `Σ rows − Σ deleted` with
  * zero data I/O.
  */
private[graft] final case class GraftDvMeta(
    partitionSchema: StructType,
    perDir: Seq[(Seq[Any], Seq[FileStats.FileStat], Long)])

private[graft] object GraftFileIndex {

  val HiveNullPartition = "__HIVE_DEFAULT_PARTITION__"
  val DefaultBlockSize: Long = 128L * 1024 * 1024

  private[sources] def normPath(p: String): String = new Path(p).toUri.getPath

  def statusOf(e: GraftStore.FileEntry): FileStatus =
    new FileStatus(e.len, false, 1, DefaultBlockSize, e.mtime, new Path(e.physical))

  /** Hive percent-escaping, decoded (the engine writes alnum/dash values,
    * but pod names and labels can carry escapables).
    */
  def unescapePath(s: String): String = {
    if (!s.contains('%')) return s
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length) {
        try {
          sb.append(Integer.parseInt(s.substring(i + 1, i + 3), 16).toChar)
          i += 3
        } catch { case _: NumberFormatException => sb.append(c); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** Partition value type inference, matching Spark's common cases for the
    * layouts the engine writes: int, long, yyyy-MM-dd date, else string.
    */
  def inferPartType(vals: Seq[String]): org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    if (vals.isEmpty) StringType
    else if (vals.forall(v => v.matches("-?\\d{1,9}"))) IntegerType
    else if (vals.forall(v => v.matches("-?\\d{1,18}"))) LongType
    else if (vals.forall(v => v.matches("\\d{4}-\\d{2}-\\d{2}"))) DateType
    else StringType
  }

  /** Conservative (lowerNs, upperNs, podEq) extraction from pushed data
    * filters — only shapes the stats can refute; everything else is ignored
    * (the file is scanned and Spark's own filter decides).
    */
  def bounds(dataFilters: Seq[Expression]): (Option[Long], Option[Long], Option[String]) = {
    var lo, hi = Option.empty[Long]
    var pod = Option.empty[String]
    def tightenLo(v: Long): Unit = lo = Some(lo.fold(v)(math.max(_, v)))
    def tightenHi(v: Long): Unit = hi = Some(hi.fold(v)(math.min(_, v)))
    def nameOf(e: Expression): Option[String] = e match {
      case a: Attribute => Some(a.name.toLowerCase)
      case _ => None
    }
    dataFilters.foreach {
      case CGreaterThanOrEqual(a, Literal(v: Long, _)) if nameOf(a).contains("time_ns") => tightenLo(v)
      case CGreaterThan(a, Literal(v: Long, _)) if nameOf(a).contains("time_ns") => tightenLo(v + 1)
      case CLessThanOrEqual(a, Literal(v: Long, _)) if nameOf(a).contains("time_ns") => tightenHi(v)
      case CLessThan(a, Literal(v: Long, _)) if nameOf(a).contains("time_ns") => tightenHi(v - 1)
      case CLessThanOrEqual(Literal(v: Long, _), a) if nameOf(a).contains("time_ns") => tightenLo(v)
      case CLessThan(Literal(v: Long, _), a) if nameOf(a).contains("time_ns") => tightenLo(v + 1)
      case CGreaterThanOrEqual(Literal(v: Long, _), a) if nameOf(a).contains("time_ns") => tightenHi(v)
      case CGreaterThan(Literal(v: Long, _), a) if nameOf(a).contains("time_ns") => tightenHi(v - 1)
      case CEqualTo(a, Literal(v: Long, _)) if nameOf(a).contains("time_ns") =>
        tightenLo(v); tightenHi(v)
      case CEqualTo(Literal(v: Long, _), a) if nameOf(a).contains("time_ns") =>
        tightenLo(v); tightenHi(v)
      case CEqualTo(a, Literal(v: UTF8String, _)) if nameOf(a).contains("pod") =>
        pod = Some(v.toString)
      case CEqualTo(Literal(v: UTF8String, _), a) if nameOf(a).contains("pod") =>
        pod = Some(v.toString)
      case _ =>
    }
    (lo, hi, pod)
  }

  /** Kind-dispatched ordering shared by the range builder and the overlap
    * check — ONE definition, so the two sides can never diverge. Doubles
    * are compared via `Double.compare` on values already canonicalized by
    * [[canonDouble]].
    */
  private def cmpKind(kind: Char, a: Any, b: Any): Int = kind match {
    case 'l' => java.lang.Long.compare(
      a.asInstanceOf[Long], b.asInstanceOf[Long])
    case 'd' => java.lang.Double.compare(
      a.asInstanceOf[Double], b.asInstanceOf[Double])
    case _ => a.asInstanceOf[String].compareTo(b.asInstanceOf[String])
  }

  /** Spark's `-0.0 = 0.0` semantics vs `Double.compare`'s `-0.0 < 0.0`:
    * canonicalize both sides to +0.0 before any comparison.
    */
  private def canonDouble(v: Double): Double = if (v == 0.0d) 0.0d else v

  /** One pushed column's conservative value constraint — a UNION of
    * inclusive windows, in the stats sidecar's comparison domain
    * ('l' integer-like, 'd' floating, 's' ASCII string). A single
    * conjunct contributes one window; a same-column disjunction
    * (`uid < 10 OR uid > 10⁹`) or a small IN-list contributes several.
    * Strict bounds are widened to inclusive and an unmappable disjunct
    * voids the whole union — pruning may only ever KEEP extra files,
    * never drop a matching one. An EMPTY union is a proven-unsatisfiable
    * conjunction (`x >= 5 AND x <= 3`): every file with usable stats
    * refutes. `None` = unbounded on that side of a window.
    */
  final case class ColRange(kind: Char, windows: Seq[(Option[Any], Option[Any])]) {

    /** Can a file with these whole-file stats hold a row in ANY window?
      * Any parse/kind/ordering doubt answers true (scan the file).
      *
      * Floating columns only ever refute via the UPPER bound: parquet
      * min/max exclude NaN, and under Spark semantics NaN is LARGER than
      * every value — a file whose visible max sits below a window's `lo`
      * could still hold NaN rows that satisfy `col > lo`, so the
      * lower-bound check must not fire. NaN never satisfies `col <= hi`,
      * so the upper check stays sound — and an empty union always carries
      * an upper bound in its pedigree (emptiness needs lo > hi), which a
      * NaN row would fail, so refuting everything stays sound too.
      */
    def overlaps(cs: graft.logs.FileStats.ColStat): Boolean = {
      // 'S' = string bounds from a possibly-truncating foreign writer:
      // still CONSERVATIVE bounds (truncated min <= true min, incremented
      // max >= true max), so pruning may use them like 's' — only
      // value-ANSWERING may not (GraftMetadataAggregate's concern)
      val csKind = if (cs.kind == 'S') 's' else cs.kind
      if (csKind != kind) return true
      try {
        // java-String vs parquet unsigned-byte ordering agree only on
        // ASCII — outside it, refuse to prune
        if (kind == 's' &&
          !(cs.min.forall(_ < 128) && cs.max.forall(_ < 128))) return true
        val (csLo: Any, csHi: Any) = kind match {
          case 'l' => (cs.min.toLong, cs.max.toLong)
          case 'd' => (canonDouble(cs.min.toDouble), canonDouble(cs.max.toDouble))
          case _ => (cs.min, cs.max)
        }
        if (kind == 'd' &&
          (csLo.asInstanceOf[Double].isNaN || csHi.asInstanceOf[Double].isNaN))
          return true
        windows.exists { case (lo, hi) =>
          (kind == 'd' || lo.forall(v => cmpKind(kind, csHi, v) >= 0)) &&
            hi.forall(v => cmpKind(kind, csLo, v) <= 0)
        }
      } catch { case _: NumberFormatException => true }
    }
  }

  /** Window-count cap per column: intersections cross-multiply and IN
    * lists can be huge; past the cap the union collapses to its convex
    * hull — a superset, so strictly conservative.
    */
  private val MaxWindowsPerCol = 16

  private type Win = (Option[Any], Option[Any])

  /** Conservative per-column window unions from pushed conjuncts — the
    * generalized data-skipping tier (any `col {=,<,<=,>,>=} literal`
    * shape over integer / floating / ASCII-string columns, IN-lists as
    * point unions, and same-column DISJUNCTIONS — `uid < 10 OR
    * uid > 10⁹` prunes the middle instead of scanning everything).
    * Shapes the stats can't refute are ignored; a kind conflict drops
    * the column.
    */
  def colRanges(dataFilters: Seq[Expression]): Map[String, ColRange] = {
    import scala.collection.mutable
    val acc = mutable.HashMap.empty[String, ColRange]
    val poisoned = mutable.HashSet.empty[String]
    def tighten(name: String, kind: Char, ws: Seq[Win]): Unit = {
      if (poisoned(name)) return
      acc.get(name) match {
        case Some(r) if r.kind != kind =>
          poisoned += name; acc.remove(name); ()
        case prev =>
          val merged = prev.fold(ws)(r => intersectWindows(kind, r.windows, ws))
          acc(name) = ColRange(kind, capWindows(kind, merged))
      }
    }
    dataFilters.foreach { f =>
      conjunctWindows(f).foreach { case (n, k, ws) => tighten(n, k, ws) }
    }
    acc.toMap
  }

  /** The window union ONE top-level conjunct contributes: a leaf shape
    * directly, or a same-column OR whose every disjunct maps to the same
    * (column, kind) — one unmappable disjunct voids the whole OR (its
    * rows could live anywhere).
    */
  private def conjunctWindows(f: Expression): Option[(String, Char, Seq[Win])] =
    f match {
      case or: COr =>
        def disjuncts(e: Expression): Seq[Expression] = e match {
          case COr(l, r) => disjuncts(l) ++ disjuncts(r)
          case x => Seq(x)
        }
        val parts = disjuncts(or).map(conjunctWindows)
        if (parts.nonEmpty && parts.forall(_.isDefined)) {
          val ps = parts.map(_.get)
          if (ps.map(p => (p._1, p._2)).distinct.size == 1)
            Some((ps.head._1, ps.head._2,
              capWindows(ps.head._2, ps.flatMap(_._3))))
          else None
        } else None
      // a disjunct can itself be a conjunction — `(a >= 1 AND a <= 5) OR
      // a > 9` — meaningful only when both sides window the SAME column
      case CAnd(l, r) =>
        for {
          (n1, k1, w1) <- conjunctWindows(l)
          (n2, k2, w2) <- conjunctWindows(r)
          if n1 == n2 && k1 == k2
        } yield (n1, k1, intersectWindows(k1, w1, w2))
      case leaf => leafWindows(leaf)
    }

  /** The window union of one LEAF predicate shape, or None when the stats
    * can't refute it. Strict bounds widen to inclusive; `<=>` with a
    * non-null literal matches like `=` (the null-match arm can't be
    * refuted by value stats, so null literals are skipped); IN-lists
    * become a union of points (only when EVERY non-null element maps to
    * one kind — a single unmapped element would narrow the union below
    * the true set and mis-prune); `startsWith(p)` becomes
    * [p, p-with-last-char-incremented] for ASCII prefixes (the increment
    * stays ASCII so the byte-vs-UTF16 ordering guard holds).
    */
  private def leafWindows(f: Expression): Option[(String, Char, Seq[Win])] = {
    def attr(e: Expression): Option[String] = e match {
      case a: Attribute => Some(a.name)
      case _ => None
    }
    def one(e: Expression, v: Any, mk: Any => Win): Option[(String, Char, Seq[Win])] =
      for { n <- attr(e); (k, x) <- kindValueOf(v) } yield (n, k, Seq(mk(x)))
    f match {
      case CEqualTo(e, Literal(v, _)) => one(e, v, x => (Some(x), Some(x)))
      case CEqualTo(Literal(v, _), e) => one(e, v, x => (Some(x), Some(x)))
      case CEqualNullSafe(e, Literal(v, _)) if v != null =>
        one(e, v, x => (Some(x), Some(x)))
      case CEqualNullSafe(Literal(v, _), e) if v != null =>
        one(e, v, x => (Some(x), Some(x)))
      case CGreaterThanOrEqual(e, Literal(v, _)) => one(e, v, x => (Some(x), None))
      case CGreaterThan(e, Literal(v, _)) => one(e, v, x => (Some(x), None))
      case CLessThanOrEqual(e, Literal(v, _)) => one(e, v, x => (None, Some(x)))
      case CLessThan(e, Literal(v, _)) => one(e, v, x => (None, Some(x)))
      case CGreaterThanOrEqual(Literal(v, _), e) => one(e, v, x => (None, Some(x)))
      case CGreaterThan(Literal(v, _), e) => one(e, v, x => (None, Some(x)))
      case CLessThanOrEqual(Literal(v, _), e) => one(e, v, x => (Some(x), None))
      case CLessThan(Literal(v, _), e) => one(e, v, x => (Some(x), None))
      case CIn(e, list) if list.forall(_.isInstanceOf[Literal]) =>
        attr(e).flatMap(n =>
          setWindows(n, list.map(_.asInstanceOf[Literal].value)))
      case CInSet(e, hset) => attr(e).flatMap(n => setWindows(n, hset.toSeq))
      case CStartsWith(e, Literal(p: UTF8String, _)) =>
        val s = p.toString
        attr(e).filter(_ => s.nonEmpty && s.forall(_ < 128) && s.last < 127)
          .map { n =>
            (n, 's', Seq((Some(s): Option[Any],
              Some(s.init + (s.last + 1).toChar): Option[Any])))
          }
      case _ => None
    }
  }

  /** IN-membership → union of point windows (or the [min, max] hull past
    * the cap) — built only when every non-null element maps to the same
    * comparison kind; any doubt builds nothing (scan).
    */
  private def setWindows(name: String, elems: Seq[Any]): Option[(String, Char, Seq[Win])] = {
    val vals = elems.filter(_ != null)
    val mapped = vals.flatMap(v => kindValueOf(v))
    if (vals.nonEmpty && mapped.size == vals.size &&
        mapped.iterator.map(_._1).toSet.size == 1) {
      val k = mapped.head._1
      val pts: Seq[Win] = mapped.map(_._2).distinct
        .map(p => (Some(p): Option[Any], Some(p): Option[Any]))
      Some((name, k, capWindows(k, pts)))
    } else None
  }

  /** Pairwise intersection of two window unions; empty intersections drop
    * (and an all-empty result is the proven-unsatisfiable union — see
    * [[ColRange]]).
    */
  private def intersectWindows(kind: Char, a: Seq[Win], b: Seq[Win]): Seq[Win] =
    for {
      (lo1, hi1) <- a
      (lo2, hi2) <- b
      lo = maxBound(kind, lo1, lo2)
      hi = minBound(kind, hi1, hi2)
      if !(lo.isDefined && hi.isDefined && cmpKind(kind, lo.get, hi.get) > 0)
    } yield (lo, hi)

  private def maxBound(kind: Char, a: Option[Any], b: Option[Any]): Option[Any] =
    (a, b) match {
      case (Some(x), Some(y)) => Some(if (cmpKind(kind, x, y) >= 0) x else y)
      case _ => a.orElse(b)
    }

  private def minBound(kind: Char, a: Option[Any], b: Option[Any]): Option[Any] =
    (a, b) match {
      case (Some(x), Some(y)) => Some(if (cmpKind(kind, x, y) <= 0) x else y)
      case _ => a.orElse(b)
    }

  /** Past [[MaxWindowsPerCol]], collapse a union to its convex hull (a
    * superset — conservative). An empty union stays empty: that is the
    * proven-unsatisfiable case, not an absence of constraint.
    */
  private def capWindows(kind: Char, ws: Seq[Win]): Seq[Win] =
    if (ws.size <= MaxWindowsPerCol) ws
    else {
      val lo =
        if (ws.exists(_._1.isEmpty)) None
        else ws.flatMap(_._1).reduceOption((x, y) =>
          if (cmpKind(kind, x, y) <= 0) x else y)
      val hi =
        if (ws.exists(_._2.isEmpty)) None
        else ws.flatMap(_._2).reduceOption((x, y) =>
          if (cmpKind(kind, x, y) >= 0) x else y)
      Seq((lo, hi))
    }

  /** Shared literal→(kind, canonical value) mapping (see colRanges). */
  private def kindValueOf(v: Any): Option[(Char, Any)] = v match {
    case null => None
    case x: java.lang.Long => Some(('l', x.longValue))
    case x: java.lang.Integer => Some(('l', x.longValue))
    case x: java.lang.Short => Some(('l', x.longValue))
    case x: java.lang.Byte => Some(('l', x.longValue))
    case x: java.lang.Double =>
      if (x.isNaN) None else Some(('d', canonDouble(x.doubleValue)))
    case x: java.lang.Float =>
      if (x.isNaN) None else Some(('d', canonDouble(x.doubleValue)))
    case x: UTF8String =>
      val s = x.toString
      if (s.forall(_ < 128)) Some(('s', s)) else None
    case _ => None
  }
}

/** Fallback relation for snapshots the native file-scan tier cannot express
  * (live deletion vectors; the `sinceNs`/`pod` CLI options): delegates to a
  * DataFrame over the snapshot. Required columns and translatable filters are
  * pushed INTO the delegate, where they reach its parquet scans natively;
  * Spark re-applies every filter above ([[BaseRelation.unhandledFilters]]
  * default), so the translation is an optimization with no correctness
  * surface. Its input files are the delegate's, so `Dataset.inputFiles`
  * names the snapshot's files on this tier too.
  */
private[graft] class GraftFrameRelation(
    override val sqlContext: SQLContext, df: DataFrame,
    /** DV-tier metadata-count surface — see [[GraftDvMeta]]. */
    val dvMeta: Option[GraftDvMeta] = None)
  extends BaseRelation with PrunedFilteredScan
    with org.apache.spark.sql.execution.FileRelation {

  override def schema: StructType = df.schema

  override def inputFiles: Array[String] = df.inputFiles

  // the delegate's rows stay in Tungsten format end to end: with
  // needConversion=false the contract is an RDD of InternalRow (the same
  // erased-cast idiom Spark's own relations use), skipping the external-Row
  // round trip df.rdd would pay on every row of a merge-on-read scan
  override val needConversion: Boolean = false

  override def buildScan(requiredColumns: Array[String],
      filters: Array[Filter]): RDD[Row] = {
    val filtered = filters.flatMap(toColumn).foldLeft(df)(_.filter(_))
    val projected =
      if (requiredColumns.isEmpty)
        // COUNT(*)-style scan: no columns needed, but the row count is
        filtered.select()
      else filtered.select(requiredColumns.map(col).toIndexedSeq: _*)
    projected.queryExecution.toRdd.asInstanceOf[RDD[Row]]
  }

  private def toColumn(f: Filter): Option[Column] = f match {
    case EqualTo(a, v) => Some(col(a) === v)
    case GreaterThan(a, v) => Some(col(a) > v)
    case GreaterThanOrEqual(a, v) => Some(col(a) >= v)
    case LessThan(a, v) => Some(col(a) < v)
    case LessThanOrEqual(a, v) => Some(col(a) <= v)
    case In(a, vs) => Some(col(a).isin(vs.toIndexedSeq: _*))
    case IsNull(a) => Some(col(a).isNull)
    case IsNotNull(a) => Some(col(a).isNotNull)
    case StringStartsWith(a, v) => Some(col(a).startsWith(v))
    case StringEndsWith(a, v) => Some(col(a).endsWith(v))
    case StringContains(a, v) => Some(col(a).contains(v))
    case And(l, r) => for (lc <- toColumn(l); rc <- toColumn(r)) yield lc && rc
    case Or(l, r) => for (lc <- toColumn(l); rc <- toColumn(r)) yield lc || rc
    case Not(c) => toColumn(c).map(!_)
    case _ => None
  }
}
