package graft.logs

import graft.GraftSession

/** Operational front end for store maintenance — the engine analogue of the
  * reference deployment's compact/cleanup stage (driven there by scripts
  * around the fluent-bit → S3 pipeline; here each job is a one-shot command
  * or a long-running watcher):
  *
  * {{{
  * runMain graft.logs.AdminCli compact   --root=/data/lake [--max-records=N]
  * runMain graft.logs.AdminCli retention --root=/data/lake --cutoff-date=2024-01-01
  * runMain graft.logs.AdminCli finalize  --root=/data/lake --close-events=/data/close
  * runMain graft.logs.AdminCli watch     --root=/data/lake --close-events=/data/close \
  *     --checkpoint=/data/ckpt/finalize [--interval='60 seconds']
  * runMain graft.logs.AdminCli snapshots --root=/data/lake
  * runMain graft.logs.AdminCli vacuum    --root=/data/lake
  * }}}
  *
  * `compact` rewrites a store's dirty partitions into scan-sized files;
  * `retention` drops partitions older than the cutoff at directory
  * granularity (no data scan). Both commit a new version with one atomic
  * pointer flip, and refuse a root that is not a store. `finalize` consumes
  * pending close events once; `watch` runs the auto-finalize loop until
  * terminated (SIGTERM stops the streaming query cleanly — K6 semantics);
  * `snapshots` inventories the retained versions of a versioned store (live
  * one flagged `*`, each readable via `GraftStore.resolveVersion` — one-step
  * time travel); `vacuum` reclaims grace snapshots immediately instead of at
  * the next commit (zero-retention VACUUM; staged-ahead versions of an
  * in-flight commit are kept).
  *
  * All argument validation happens BEFORE the SparkSession starts: a typo'd
  * command, a missing required key, an unrecognized option, or a boolean
  * flag that is neither `true` nor `false` fails instantly with the usage
  * text, never with a Spark spin-up and a stack trace — and never by
  * silently falling back to a default the operator did not ask for.
  */
object AdminCli {
  private val usage =
    """usage: AdminCli <command> --key=value...
      |  compact   --root=DIR [--max-records=N]
      |            [--full=true] [--retain=N] [--cluster-by=col,..]
      |            [--zorder=true]   (incremental by default: only dirty
      |            partitions rewrite; --retain keeps N grace snapshots,
      |            default 1; --cluster-by overrides the time_ns sort,
      |            --zorder interleaves the cluster-by columns)
      |  retention --root=DIR --cutoff-date=YYYY-MM-DD   (commits the drop
      |            as a new version; the pre-retention snapshot stays
      |            time-travelable)
      |  finalize  --root=DIR --close-events=DIR [--max-records=N]
      |  watch     --root=DIR --close-events=DIR --checkpoint=DIR [--interval=DUR]
      |  snapshots --root=DIR
      |  vacuum    --root=DIR [--retain=N]   (keep N snapshots below live, default 0)
      |  maintain  --root=DIR [--views=DIR,..] [--dirty-max-files=N]
      |            [--dirty-min-avg-bytes=N] [--max-records=N] [--retain=N]
      |            [--cluster-by=col,..] [--zorder=true]
      |            [--compact-indexes=true]   (debt-gated auto
      |            maintenance: metadata-only inventory decides; compacts
      |            only when a rewrite would touch something, refreshes
      |            views incrementally, no version churn when clean;
      |            --compact-indexes also rewrites sibling streaming-dedup
      |            index slices — OFFLINE ONLY, a live stream's planned
      |            read would hit the immediately-deleted merged slices)
      |  stats     --root=DIR [--refresh=true]   (pruning-sidecar coverage;
      |            --refresh backfills/repairs it for pre-stats stores)
      |  diff      --root=DIR [--from=N] [--to=N]   (defaults: previous -> live)
      |  delete    --root=DIR --where=SQL_EXPR [--commit-id=ID] [--retain=N]
      |            [--max-ranges=N]   (row-level merge-on-read delete: commits
      |            a deletion vector, moves zero data bytes; compaction
      |            materializes it later)
      |  files     --root=DIR [--version=N] [--limit=N]   (metadata table: one
      |            line per data file with stats — zero data-file reads)
      |  matview-create  --root=DIR --view=DIR --keys=col,..
      |            [--sums=name:expr,..]   (full compute of an incrementally-
      |            maintained aggregate; sums must be LONG-typed expressions)
      |  matview-refresh --root=DIR --view=DIR   (apply the store's CDC since
      |            the view's base snapshot — O(changed files + view))
      |  break-lease --root=DIR   (remove a lease left by a crashed maintainer)""".stripMargin

  // options that take `true` or `false` and nothing else
  private val boolKeys = Set("full", "zorder", "refresh", "compact-indexes")

  // per-command (required, optional) option keys — anything else is a typo
  private val commands: Map[String, (Set[String], Set[String])] = Map(
    "compact" -> (Set("root"),
      Set("max-records", "full", "retain", "cluster-by", "zorder")),
    "retention" -> (Set("root", "cutoff-date"), Set.empty[String]),
    "finalize" -> (Set("root", "close-events"), Set("max-records")),
    "watch" -> (Set("root", "close-events", "checkpoint"), Set("interval")),
    "snapshots" -> (Set("root"), Set.empty[String]),
    "vacuum" -> (Set("root"), Set("retain")),
    "stats" -> (Set("root"), Set("refresh")),
    "diff" -> (Set("root"), Set("from", "to")),
    "delete" -> (Set("root", "where"), Set("commit-id", "retain", "max-ranges")),
    "files" -> (Set("root"), Set("version", "limit")),
    "matview-create" -> (Set("root", "view", "keys"), Set("sums")),
    "matview-refresh" -> (Set("root", "view"), Set.empty[String]),
    "maintain" -> (Set("root"),
      Set("views", "dirty-max-files", "dirty-min-avg-bytes", "max-records",
        "retain", "cluster-by", "zorder", "compact-indexes")),
    "break-lease" -> (Set("root"), Set.empty[String]))

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, usage)
    val cmd = args.head
    val (required, optional) = commands.getOrElse(cmd,
      throw new IllegalArgumentException(s"unknown command '$cmd'\n$usage"))
    val opts = args.tail.map { s =>
      val i = s.indexOf('=')
      require(s.startsWith("--") && i > 2, s"malformed arg '$s'\n$usage")
      s.substring(2, i) -> s.substring(i + 1)
    }.toMap
    val unknown = opts.keySet -- required -- optional
    require(unknown.isEmpty,
      s"unrecognized option(s) for $cmd: ${unknown.map("--" + _).mkString(", ")}\n$usage")
    val missing = required -- opts.keySet
    require(missing.isEmpty,
      s"missing required option(s) for $cmd: ${missing.map("--" + _).mkString(", ")}\n$usage")
    // strict booleans, checked before Spark starts: "--full=True" silently
    // meaning false would drop operator intent
    opts.foreach { case (k, v) =>
      require(!boolKeys(k) || v == "true" || v == "false",
        s"--$k must be true or false, got '$v'\n$usage")
    }
    def boolOpt(k: String): Boolean = opts.get(k).contains("true")
    val maxRecords = opts.get("max-records").map(_.toLong).getOrElse(4000000L)

    val spark = GraftSession.local("graft-admin")
    try cmd match {
      case "compact" =>
        Compaction.compactHive(spark, opts("root"),
          maxRecordsPerFile = maxRecords,
          full = boolOpt("full"),
          retainSnapshots = opts.get("retain").map(_.toInt).getOrElse(1),
          cluster = opts.get("cluster-by").map(_.split(',').toSeq.map(_.trim)) match {
            case None =>
              require(!boolOpt("zorder"), s"--zorder needs --cluster-by\n$usage")
              ClusterSpec.TimeMajor
            case Some(cols) =>
              if (boolOpt("zorder")) ClusterSpec.ZOrder(cols)
              else ClusterSpec.Lexicographic(cols)
          })
        println(s"[admin] compacted ${opts("root")}")
      case "retention" =>
        val dropped = Retention.enforceHive(spark, opts("root"), opts("cutoff-date"))
        println(s"[admin] dropped ${dropped.size} partitions: ${dropped.mkString(", ")}")
      case "finalize" =>
        val done = StreamFinalize.finalizeClosed(spark, opts("close-events"),
          opts("root"), maxRecordsPerFile = maxRecords)
        println(s"[admin] finalized ${done.size} streams")
      case "watch" =>
        val interval = opts.getOrElse("interval", "60 seconds")
        val q = LogStreamIngest.startAutoFinalize(spark, opts("close-events"),
          opts("root"), opts("checkpoint"), triggerInterval = interval)
        println(s"[admin] auto-finalize running (trigger $interval)")
        q.awaitTermination()
      case "snapshots" =>
        GraftStore.snapshots(spark, opts("root")).foreach { s =>
          val flag = if (s.current) "*" else " "
          val ts = java.time.Instant.ofEpochMilli(
            GraftStore.commitTimeOf(spark, opts("root"), s.version))
          println(f"[admin] ${GraftStore.versionPrefix(s.version)} $flag files=${s.files}%d bytes=${s.bytes}%d committed=$ts")
        }
      case "vacuum" =>
        val dropped = GraftStore.vacuum(spark, opts("root"),
          retain = opts.get("retain").map(_.toInt).getOrElse(0))
        println(s"[admin] vacuumed ${dropped.size} snapshot(s): " +
          dropped.map(GraftStore.versionPrefix).mkString(", "))
      case "diff" =>
        val snaps = GraftStore.snapshots(spark, opts("root"))
        val versions = snaps.map(_.version)
        // default `to` is the LIVE pointer, not versions.max: a staged-ahead
        // version an in-flight commit is still writing (which vacuum
        // retains) can exceed the live one, and diffing against it would
        // read a half-written snapshot
        val live = snaps.find(_.current).map(_.version)
          .getOrElse(throw new IllegalArgumentException(
            s"no live version among retained snapshots ${versions.mkString(",")}"))
        val to = opts.get("to").map(_.toInt).getOrElse(live)
        val from = opts.get("from").map(_.toInt).getOrElse {
          val preds = versions.filter(_ < to)
          require(preds.nonEmpty,
            s"no retained snapshot precedes v$to to diff against " +
              s"(retained: ${versions.mkString(",")})")
          preds.max
        }
        val d = GraftStore.diffVersions(spark, opts("root"), from, to)
        println(s"[admin] diff ${GraftStore.versionPrefix(from)} -> " +
          s"${GraftStore.versionPrefix(to)}: +${d.added.size} files " +
          s"(+${d.bytesAdded} B), -${d.removed.size} files (-${d.bytesRemoved} B), " +
          s"row delta ${d.rowDelta}")
        d.added.foreach(f => println(s"[admin]   + $f"))
        d.removed.foreach(f => println(s"[admin]   - $f"))
      case "stats" =>
        // operability surface for the pruning sidecar: coverage report of
        // the LIVE snapshot, `--refresh=true` to backfill/repair it
        // (pre-stats stores, foreign writers)
        if (boolOpt("refresh")) {
          val written = FileStats.refresh(spark, opts("root"))
          println(s"[admin] refreshed ${written.size} stats line(s)")
        }
        val dir = GraftStore.resolve(spark, opts("root"))
        val stats = FileStats.read(spark, dir)
        // composite inventory: carried files live in other holders and a
        // live-dir listing would miss them
        val entries = GraftStore.compositeEntries(spark, opts("root"),
          GraftStore.currentVersion(spark, opts("root")))
        val covered = entries.count(e => stats.get(e.key).exists(_.len == e.len))
        val rows = stats.values.map(_.rows).sum
        val withNs = stats.values.count(_.minNs.nonEmpty)
        println(s"[admin] stats: ${stats.size} line(s), $covered/${entries.size} " +
          s"live files covered, $rows rows, $withNs with time_ns min/max")
        val dv = DeleteVectors.read(spark, dir)
        if (dv.nonEmpty)
          println(s"[admin] deletion vectors: ${dv.size} file(s), " +
            s"${DeleteVectors.totalPositions(dv)} deleted row(s) pending " +
            "materialization (compact rewrites them out)")
      case "delete" =>
        val c = DeleteVectors.deleteWhere(spark, opts("root"),
          org.apache.spark.sql.functions.expr(opts("where")),
          commitId = opts.get("commit-id"),
          retainSnapshots = opts.get("retain").map(_.toInt).getOrElse(1),
          maxRanges = opts.get("max-ranges").map(_.toInt)
            .getOrElse(DeleteVectors.MaxRangesDefault))
        println(
          if (c.replayed)
            s"[admin] delete replayed: already committed as ${GraftStore.versionPrefix(c.version)}"
          else s"[admin] deleted ${c.deletedRows} row(s) as " +
            s"${GraftStore.versionPrefix(c.version)} (merge-on-read; zero data moved)")
      case "files" =>
        // the `files` metadata table ([[MetaTables]]): listing + sidecar
        // only, so this stays instant on stores of any data size
        val rows = MetaTables.files(spark, opts("root"),
            opts.get("version").map(_.toInt))
          .orderBy(org.apache.spark.sql.functions.col("key")).collect()
        val limit = opts.get("limit").map(_.toInt).getOrElse(50)
        rows.take(limit).foreach { r =>
          val stat = if (r.getBoolean(7))
            s"rows=${r.getLong(2)} ns=[${if (r.isNullAt(3)) "-" else r.getLong(3)}," +
              s"${if (r.isNullAt(4)) "-" else r.getLong(4)}]"
          else "stats=STALE"
          println(s"[admin] ${r.getString(0)} bytes=${r.getLong(1)} $stat")
        }
        if (rows.length > limit)
          println(s"[admin] ... ${rows.length - limit} more (--limit to raise)")
        println(s"[admin] ${rows.length} file(s), " +
          s"${rows.count(_.getBoolean(7))} with fresh stats")
      case "matview-create" =>
        val sums = opts.get("sums").toSeq.flatMap(_.split(',').toSeq).map { s =>
          s.split(':') match {
            case Array(n, e) => (n, e)
            case _ => throw new IllegalArgumentException(
              s"--sums entries are name:expr, got '$s'\n$usage")
          }
        }
        MatView.create(spark, opts("root"), opts("view"),
          keys = opts("keys").split(',').toSeq, sums = sums)
        println(s"[admin] materialized view created at ${opts("view")} " +
          s"(keys=${opts("keys")}, ${sums.size} sum(s))")
      case "matview-refresh" =>
        val r = MatView.refresh(spark, opts("root"), opts("view"))
        println(
          if (r.noop)
            s"[admin] view already at store v${r.baseVersion} — no-op"
          else s"[admin] view refreshed to v${r.viewVersion} " +
            s"(store v${r.baseVersion}, ${r.deltaRows} delta row(s))")
      case "maintain" =>
        val r = Maintenance.run(spark, opts("root"),
          views = opts.get("views")
            .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
            .getOrElse(Seq.empty),
          dirtyMaxFiles = opts.get("dirty-max-files").map(_.toInt).getOrElse(4),
          dirtyMinAvgBytes =
            opts.get("dirty-min-avg-bytes").map(_.toLong).getOrElse(32L << 20),
          maxRecordsPerFile = maxRecords,
          retainSnapshots = opts.get("retain").map(_.toInt).getOrElse(1),
          cluster = opts.get("cluster-by").map(_.split(',').toSeq.map(_.trim)) match {
            case None => ClusterSpec.TimeMajor
            case Some(cols) =>
              if (boolOpt("zorder")) ClusterSpec.ZOrder(cols)
              else ClusterSpec.Lexicographic(cols)
          },
          // explicit opt-in: index compaction deletes merged slices
          // immediately and would crash a LIVE stream's planned read —
          // only safe in an offline maintenance window
          compactIndexes = boolOpt("compact-indexes"))
        val b = r.before
        println(s"[admin] debt: ${b.dirtyPartitions}/${b.totalPartitions} " +
          s"dirty partition(s), ${b.pendingDeleteRows} pending delete row(s) " +
          s"in ${b.pendingDeleteFiles} file(s), ${b.staleViews.size} stale view(s)")
        println(
          if (!r.compacted && r.refreshedViews.isEmpty)
            "[admin] clean — nothing to do (no lease taken, no version flip)"
          else s"[admin] maintained: compacted=${r.compacted}, " +
            s"views refreshed=${r.refreshedViews.size}; now " +
            s"${r.after.dirtyPartitions} dirty, " +
            s"${r.after.pendingDeleteRows} pending delete row(s)")
      case "break-lease" =>
        val existed = MaintenanceLease.breakLease(spark, opts("root"))
        println(if (existed) s"[admin] lease on ${opts("root")} broken"
          else s"[admin] no lease held on ${opts("root")}")
    } finally spark.stop()
  }
}
