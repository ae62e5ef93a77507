package graft.logs

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Output projections (SURVEY §2 rows P3, P5; reference y-logcli:177-187). */
sealed trait LogOutput
object LogOutput {
  case object Raw extends LogOutput      // message only (like kubectl logs)
  case object Columns extends LogOutput  // time+pod+container+stream+left(message,60)
  case object Lines extends LogOutput    // full column set
  case object Table extends LogOutput    // full column set (render differs CLI-side)
  case object Json extends LogOutput     // full column set, one JSON object per row

  def parse(s: String): LogOutput = s match {
    case "raw" => Raw
    case "columns" => Columns
    case "lines" => Lines
    case "table" => Table
    case "json" => Json
    case other => throw new IllegalArgumentException(s"bad -o '$other'")
  }
}

/** Storage formats (`-f arrow|parquet|both`, reference y-logcli:234-261). */
sealed trait LogFormat
object LogFormat {
  case object Parquet extends LogFormat
  case object Arrow extends LogFormat
  /** UNION ALL of both scans (SURVEY §2 row U1). */
  case object Both extends LogFormat

  def parse(s: String): LogFormat = s match {
    case "parquet" => Parquet
    case "arrow" => Arrow
    case "both" => Both
    case other => throw new IllegalArgumentException(s"bad -f '$other'")
  }
}

/** Storage layouts the query side can read. */
sealed trait LogLayout
object LogLayout {
  /** Idiomatic hive `k=v` partitions — Spark prunes natively from column
    * predicates (SURVEY §1.3 primary design).
    */
  case object Hive extends LogLayout
  /** The reference's positional layout — pruning via constructed glob, columns
    * via path split (SURVEY §1.3 compat design; y-logcli:106-143).
    */
  case object Positional extends LogLayout
}

/** The query builder (SURVEY §3.1's Spark equivalent): selector + since +
  * output mode + layout → a pruned, ordered DataFrame.
  *
  * Partition pruning (SURVEY §4): for [[LogLayout.Positional]] the glob is
  * rewritten from the selectors before `spark.read` ever lists — the same
  * altitude as the reference's `build_s3_path` (y-logcli:106-123). For
  * [[LogLayout.Hive]] the same selectors become column predicates and the
  * store's snapshot file index ([[graft.sources.GraftFileIndex]]) prunes
  * partitions and, from commit-time stats, files. Residual selector columns
  * are always also filtered (defense in depth; globs prune, filters prove).
  * Time predicates are applied on BOTH the µs `time` column and the `time_ns`
  * long so parquet row-group stats prune whichever column the file carries.
  *
  * The result is ordered by `time_ns`. On the hive layout, a pruned scan
  * that fits one scan split sorts inside its scan task
  * ([[graft.plans.SmallScanSort]]): one job, no range shuffle. A bigger
  * scan, a store with pending deletion vectors and the positional layout
  * keep Spark's range-partitioned sort.
  */
final case class LogQuery(
    selector: LogSelector = LogSelector.empty,
    sinceSeconds: Option[Long] = None,
    output: LogOutput = LogOutput.Table,
    layout: LogLayout = LogLayout.Positional,
    format: LogFormat = LogFormat.Parquet,
    /** Fixed reference instant for `--since`; None = now(). Tests and
      * reproducible runs pin it (epoch nanos).
      */
    asOfNanos: Option[Long] = None) {

  /** One positional-layout scan for a single physical format; empty-glob →
    * empty result, not an error (kubectl-logs semantics).
    */
  private def positionalScan(spark: SparkSession, root: String, ext: String): DataFrame = {
    val glob = LogPathLayout.buildGlob(root, selector.labels, ext)
    val p = new org.apache.hadoop.fs.Path(glob)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val matches = fs.globStatus(p)
    if (matches == null || matches.isEmpty) {
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        LogSchema.struct)
    } else {
      val (scan, filePath) = ext match {
        case "parquet" =>
          (spark.read.schema(LogSchema.positionalFileStruct).parquet(glob),
            col("_metadata.file_path"))
        case "arrow" =>
          (spark.read.format(classOf[graft.sources.ArrowIpcSource].getName)
            .option("withFilePath", "true").load(glob),
            col(graft.sources.ArrowIpcSource.FilePathColumn))
      }
      LogPathLayout.withPathColumns(filePath)
        .foldLeft(scan) { case (df, (name, c)) => df.withColumn(name, c) }
        .drop(graft.sources.ArrowIpcSource.FilePathColumn)
    }
  }

  def dataFrame(spark: SparkSession, root: String): DataFrame = {
    val base = layout match {
      case LogLayout.Positional =>
        format match {
          case LogFormat.Parquet => positionalScan(spark, root, "parquet")
          case LogFormat.Arrow => positionalScan(spark, root, "arrow")
          case LogFormat.Both =>
            // `-f both` = UNION ALL across formats (y-logcli:243-255);
            // unionByName replaces the reference's manual column alignment
            positionalScan(spark, root, "parquet")
              .unionByName(positionalScan(spark, root, "arrow"))
        }
      case LogLayout.Hive =>
        // the store's snapshot relation: a plain dir or a versioned store
        // (with carried partitions) listed once into its file index,
        // schema from one footer on the driver, deletion vectors applied.
        // The selector and `--since` predicates below push into that index,
        // which drops files whose commit-time stats exclude them
        // ([[FileStats]]) before any footer is opened; an un-pinned
        // `--since` folds current_timestamp() to a literal at optimization,
        // so it prunes too.
        spark.read.format("graft").load(root)
    }
    selectFrom(base)
  }

  /** The row-level half of [[dataFrame]] over an already-chosen scan:
    * selector and `--since` predicates, output projection, `time_ns` order.
    */
  private[graft] def selectFrom(base: DataFrame): DataFrame = {
    // layouts that record no pod uid (the positional layout by design,
    // pre-pod_id hive stores by age) surface the column as null, so a
    // pod_id selector matches NOTHING there — the silent alternative,
    // skipping the filter, would return BOTH incarnations of a reborn pod
    // under a selector whose whole purpose is telling them apart
    val withUid =
      if (base.columns.contains("pod_id")) base
      else base.withColumn("pod_id", lit(null).cast("string"))
    val selected = selector.labels.foldLeft(withUid) {
      case (df, (k, v)) if df.columns.contains(k) => df.filter(col(k) === v)
      case (df, _) => df
    }

    val since = sinceSeconds.map { s =>
      val cutoffNs: Column = asOfNanos match {
        case Some(n) => lit(n - s * 1000000000L)
        case None => unix_micros(current_timestamp()) * 1000L - lit(s * 1000000000L)
      }
      // exact integral division: double division of epoch-nanos can round
      // the µs cutoff up by 1 and drop boundary rows (see CriFunctions.longDiv)
      selected.filter(col("time_ns") >= cutoffNs &&
        col("time") >= timestamp_micros(CriFunctions.longDiv(cutoffNs, 1000L)))
    }.getOrElse(selected)

    project(since).orderBy(col("time_ns"))
  }

  /** Output-mode projection (reference y-logcli:177-194). The rendered `time`
    * uses the nanosecond ISO format (y-logcli:173-179) from the lossless
    * `time_ns` column.
    */
  private def project(df: DataFrame): DataFrame = output match {
    case LogOutput.Raw =>
      df.select(col("time_ns"), col("message"))
    case LogOutput.Columns =>
      df.select(
        col("time_ns"),
        CriFunctions.nsIso8601(col("time_ns")).as("time_iso"),
        col("pod"), col("container"), col("stream"),
        substring(col("message"), 1, 60).as("message"))
    case LogOutput.Lines | LogOutput.Table | LogOutput.Json =>
      df.select(
        col("time_ns"),
        CriFunctions.nsIso8601(col("time_ns")).as("time_iso"),
        col("cluster"), col("namespace"), col("node"), col("pod"),
        col("container"), col("stream"), col("logtag"), col("message"))
  }
}

object LogQuery {
  /** Union across storage roots/formats (SURVEY §2 row U1; reference
    * y-logcli:243-255's `-f both`). `unionByName` removes the reference's
    * manual all-columns-subquery bookkeeping (y-logcli:189-194).
    */
  def unionAcross(dfs: Seq[DataFrame]): DataFrame =
    dfs.reduce(_.unionByName(_)).orderBy(col("time_ns"))
}
