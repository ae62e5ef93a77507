package graft

import org.apache.spark.sql.SparkSession

/** Central SparkSession configuration for the engine.
  *
  * Design notes (scale): these settings are the local[N] analogues of what a
  * 1000-executor deployment would set cluster-wide — AQE on (runtime skew/plan
  * fixes), shuffle partitions sized to parallelism (not the 200 default),
  * zstd parquet output (the reference compresses everything with ZSTD too,
  * see reference images/fluentbit/compact_columns.c:399-402).
  */
object GraftSession {

  /** Parse the `SPARK_GRAFT_CONF` format, `k=v;k2=v2`: entries split on
    * `;`, each at its first `=`, keys and values trimmed. Blank entries
    * are skipped; an entry with no `=` or an empty key throws, naming the
    * entry, so a typo fails the run instead of being dropped.
    */
  private[graft] def parseConfOverrides(spec: String): Map[String, String] =
    spec.split(';').iterator.map(_.trim).filter(_.nonEmpty).map { kv =>
      kv.split("=", 2) match {
        case Array(k, v) if k.trim.nonEmpty => k.trim -> v.trim
        case _ => throw new IllegalArgumentException(
          s"SPARK_GRAFT_CONF entry '$kv' is not key=value")
      }
    }.toMap

  /** The operator's overrides from SPARK_GRAFT_CONF (ops escape hatch for
    * experiments and per-box tuning; unset in the driver contract, so
    * official runs see the engine defaults).
    */
  private lazy val confOverrides: Map[String, String] =
    sys.env.get("SPARK_GRAFT_CONF").fold(Map.empty[String, String])(parseConfOverrides)

  /** True when the operator pinned `key` via SPARK_GRAFT_CONF — engine code
    * that scopes its own tuning (e.g. the streaming-dedup body's AQE pin)
    * checks this so an explicit operator choice always wins.
    */
  def isTuningOverridden(key: String): Boolean = confOverrides.contains(key)

  /** The session a foreachBatch micro-batch BODY should bind to: the
    * batch's own stream-session clone (per-query — never shared with
    * concurrent batch analytics), with AQE pinned off there. Rationale
    * (measured, r16): a body's inputs are trigger-bounded and its index/
    * store reads pruned to batch-proportional size, so runtime re-planning
    * cannot improve the static plan — but with AQE every body action
    * submits its shuffle stages as separate map-stage jobs with a driver
    * re-optimization round between them (~8 s/batch of driver time at
    * sf0.1: cold d11 55.9 -> 33.9 s, d10 21.7 -> 15.5 s; Spark itself
    * keeps AQE off for streaming plans on the same latency reasoning).
    * Scoped to the clone, so corpus-scale batch analytics on the main
    * session keep AQE's skew/coalesce fixes. An explicit operator override
    * of the key via SPARK_GRAFT_CONF wins. Direct batch callers (whose
    * frames bind to their own session) are unaffected.
    */
  def microBatchSession(batch: org.apache.spark.sql.Dataset[_]): SparkSession = {
    val sess = batch.sparkSession
    if (!isTuningOverridden("spark.sql.adaptive.enabled"))
      sess.conf.set("spark.sql.adaptive.enabled", "false")
    // mark the clone as a stream-body session: batch operators that learn
    // their trigger's cardinality may size per-batch tuning (shuffle width)
    // on it — batches are sequential per query and the clone is never a
    // shared analytics session, so a per-batch conf set cannot race or leak
    sess.conf.set(StreamBodyKey, "true")
    sess
  }

  /** Conf marker identifying a per-query stream-session clone (see
    * [[microBatchSession]]); absent/false on every shared session.
    */
  val StreamBodyKey = "graft.stream.body"

  /** Size a stream-body session's shuffle width to the trigger's measured
    * cardinality (r17, guide §2.2/§2.5): the body pins AQE off (its frames
    * are trigger-bounded, re-planning is pure driver latency), which also
    * forfeits AQE's partition coalescing — so every batch-sized shuffle ran
    * the full static `spark.sql.shuffle.partitions` (= cluster cores) of
    * mostly-empty tasks. This applies AQE's coalesce rule statically, from
    * the row count the body already computed: ceil(rows / rowsPerTask),
    * capped at the session's parallelism — a 10M-row trigger still
    * saturates every core; a 2k-row gate batch stops paying 32-task
    * scheduling per shuffle. No-op on non-stream-body (shared) sessions and
    * under an explicit operator override of the shuffle-partitions key.
    */
  def sizeStreamBodyShuffle(spark: SparkSession, rows: Long): Unit =
    if (spark.conf.get(StreamBodyKey, "false") == "true" &&
      !isTuningOverridden("spark.sql.shuffle.partitions")) {
      val perTask = spark.conf.get("graft.stream.rowsPerTask", "4096").toLong
      val target = math.max(1L,
        math.min(spark.sparkContext.defaultParallelism.toLong,
          (rows + perTask - 1) / perTask))
      spark.conf.set("spark.sql.shuffle.partitions", target.toString)
    }

  /** Conf marker [[configure]] sets last: a session carrying it holds the
    * engine confs, functions and rules. [[ConfScope]] clones and streaming
    * `cloneSession` clones copy it together with that state; a bare
    * `newSession()` starts without it.
    */
  private val ConfiguredKey = "graft.session.configured"

  /** Apply engine settings to an existing session (e.g. one the driver
    * owns), then the SPARK_GRAFT_CONF overrides. Runs once per session: a
    * session that carries [[ConfiguredKey]] is returned untouched, so
    * every `Tables` load may call it and a later conf set is never reset.
    * The steps are idempotent, so two threads racing on a fresh session
    * install the same state.
    */
  def configure(spark: SparkSession): SparkSession = configure(spark, confOverrides)

  /** [[configure]] with `overrides` in place of SPARK_GRAFT_CONF's. */
  private[graft] def configure(spark: SparkSession,
      overrides: Map[String, String]): SparkSession = {
    if (spark.conf.getOption(ConfiguredKey).isDefined) return spark
    // The reference stores Timestamp(ns) (compact_columns.c:69-93); parquet
    // TIMESTAMP(NANOS) is unreadable by Spark's µs TimestampType unless read
    // as a raw long. Lossless-ns-as-long IS our design (SURVEY §7.4).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.parquet.compression.codec", "zstd")
    // Spark's default parquet timestamp output is the deprecated INT96,
    // which carries NO column statistics — every written `time`-style µs
    // column would be unprunable at the row-group tier. INT64 micros is
    // the modern type the driver testdata itself uses.
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    // runtime skew-join splitting: hot keys (one pod flooding logs, one
    // boilerplate shingle) re-plan into split partitions at execution time
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    // list up to 1024 root paths on the driver instead of in a Spark job.
    // A file stream source lists with the session it was created on, at
    // least twice per trigger (offsets, then the batch relation), and at
    // Spark's default of 32 each listing of a CRI tail's few dozen
    // container files was a job of ~300 ms; stream-body index reads list
    // slice trees of a few hundred dirs. Stream clones inherit the setting. Data-scale
    // listings (store versions with thousands of files) still exceed it
    // and keep the distributed listing.
    spark.conf.set("spark.sql.sources.parallelPartitionDiscovery.threshold", "1024")
    GraftExtensions.register(spark)
    registerRules(spark)
    applyConfOverrides(spark, overrides)
    spark.conf.set(ConfiguredKey, "true")
    spark
  }

  /** Set `overrides` on `spark`, after the engine defaults. Keys that
    * `spark.conf.isModifiable` rejects (static and core keys, and keys
    * Spark does not define) are skipped — [[local]] passes them to the
    * builder, where they take effect; a value Spark rejects for a runtime
    * key throws.
    */
  private[graft] def applyConfOverrides(spark: SparkSession,
      overrides: Map[String, String]): Unit =
    overrides.foreach { case (k, v) =>
      if (spark.conf.isModifiable(k)) spark.conf.set(k, v)
    }

  /** The engine's optimizer rules, appended to
    * `spark.experimental.extraOptimizations` — runtime-injectable, so
    * driver-owned sessions and [[ConfScope]] clones get them without
    * builder-time extensions; idempotent:
    *   - [[graft.plans.GraftMetadataAggregate]]: metadata-only aggregates
    *     over `format("graft")` relations;
    *   - [[graft.plans.PlanRewrites]]: exact-match routing to registered
    *     maintained artifacts (matviews, bucketed copies) — inert until
    *     something registers;
    *   - [[graft.plans.SmallScanSort]]: a global sort over a small pruned
    *     graft snapshot sorts in its one scan task, with no range shuffle.
    */
  def registerRules(spark: SparkSession): Unit = {
    val missing = Seq(graft.plans.GraftMetadataAggregate, graft.plans.PlanRewrites,
      graft.plans.SmallScanSort).filterNot(spark.experimental.extraOptimizations.contains)
    if (missing.nonEmpty)
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations ++ missing
  }

  /** S3-compatible object-store access (SURVEY §2 row S9; the reference wires
    * the same four knobs for versitygw at y-logcli:145-152 and test.sh:40-44):
    * endpoint, credentials, path-style addressing. Everything else in the
    * engine is already FS-agnostic through the Hadoop `FileSystem` API, so
    * `s3a://bucket/...` roots work in every reader/writer once this is set.
    */
  def configureS3a(spark: SparkSession, endpoint: String, accessKey: String,
      secretKey: String, pathStyleAccess: Boolean = true,
      region: Option[String] = None, sslEnabled: Boolean = true): SparkSession = {
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.s3a.endpoint", endpoint)
    hc.set("fs.s3a.access.key", accessKey)
    hc.set("fs.s3a.secret.key", secretKey)
    hc.set("fs.s3a.path.style.access", pathStyleAccess.toString)
    hc.set("fs.s3a.connection.ssl.enabled", sslEnabled.toString)
    region.foreach(hc.set("fs.s3a.endpoint.region", _))
    spark
  }

  /** GCS-compatible gateway wiring (SURVEY §2 row S9's second deployment
    * shape; the reference patches its shipper's header lookup specifically
    * for GCS-style gateways — reference
    * `images/fluentbit/fix-gcs-header-lookup.patch:1-22`). Google Cloud
    * Storage's S3-interoperability XML API speaks the S3 protocol with
    * HMAC credentials, so the engine reaches GCS buckets through the same
    * s3a connector pointed at `storage.googleapis.com` with path-style
    * URLs — no separate connector or code path, just conf. Any other
    * GCS-flavored gateway (an emulator, a proxy) passes its own endpoint.
    */
  def configureGcsInterop(spark: SparkSession, accessKey: String,
      secretKey: String,
      endpoint: String = "https://storage.googleapis.com"): SparkSession =
    configureS3a(spark, endpoint, accessKey, secretKey,
      pathStyleAccess = true)

  /** Env-driven S3 wiring, mirroring the reference deployment's variables
    * (reference test.sh:40-44 / y-logcli:145-152: endpoint, keys, region,
    * ssl off, path-style URLs for the gateway). No-op when `S3_ENDPOINT` is
    * unset, so local runs are untouched; called from [[local]] so every CLI
    * and main picks the store up without code changes.
    */
  def configureS3aFromEnv(spark: SparkSession,
      env: Map[String, String] = sys.env): SparkSession = {
    // lenient bool: gateway env conventions use 0/1/no/off as often as
    // true/false, and a parse crash here would kill every entry point
    def flag(v: String): Boolean =
      !Set("false", "0", "no", "off").contains(v.trim.toLowerCase)
    env.get("S3_ENDPOINT").foreach { ep =>
      configureS3a(spark, ep,
        accessKey = env.getOrElse("S3_ACCESS_KEY", ""),
        secretKey = env.getOrElse("S3_SECRET_KEY", ""),
        pathStyleAccess = env.get("S3_URL_STYLE").forall(_ == "path"),
        region = env.get("S3_REGION"),
        sslEnabled = env.get("S3_USE_SSL").forall(flag))
    }
    spark
  }

  /** Build a local session sized from SPARK_GRAFT_CPUS (driver contract). */
  def local(appName: String = "graft"): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    // `file:` without a process fork per create and rename; at build time,
    // before anything creates (and Hadoop caches) the first `file:` FS
    graft.fs.LocalDisk.sparkConfs.foreach { case (k, v) => builder.config(k, v) }
    // at BUILD time so static keys like spark.io.compression.codec take
    // effect; configure() sets the runtime ones again after its defaults
    confOverrides.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    configureS3aFromEnv(configure(spark))
  }
}
