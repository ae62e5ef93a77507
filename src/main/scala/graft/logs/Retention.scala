package graft.logs

import org.apache.spark.sql.SparkSession

/** Retention enforcement for the hive log store: drop whole `date=`
  * partitions older than the cutoff. The drop is a version COMMIT: the new
  * version's manifest carries every surviving partition by reference and
  * omits the expired ones, so the new prefix holds no data and one CAS
  * pointer flip publishes it ([[GraftStore.commit]]). No scan, no rewrite,
  * no per-object delete inside the live version — which is what makes
  * retention tractable on a 100 TB store, and atomic on object stores,
  * where deleting a partition in place costs a request per object and
  * readers would see it half gone. In-flight readers keep their complete
  * snapshot, the pre-retention view stays time-travelable, and the expired
  * partitions' bytes go once no retained snapshot reads them
  * ([[GraftStore.reclaim]]), like any grace snapshot.
  */
object Retention {

  /** Commit the drop of every `date=<d>` partition with `d < cutoffDate`
    * (ISO yyyy-MM-dd; string comparison is date order for this format).
    * Returns the dropped partition paths (their physical, pre-retention
    * locations); nothing to drop commits nothing. A directory that is not
    * a store is refused ([[GraftStore.requireStore]]) before anything is
    * touched.
    */
  def enforceHive(spark: SparkSession, root: String,
      cutoffDate: String): Seq[String] =
    GraftStore.commit[Unit, Seq[String]](spark, root, "retention", None,
        leaseAttempts = 1, retain = 1, Right(())) { (live, _) =>
      // composite inventory from the live listing: own date dirs
      // (cluster/namespace/date = 3 levels) chain as (live, rel); carried
      // ones keep pointing at the holder that physically holds them
      val (expired, survivors) = live.carryAll(3).partition(e => relExpired(e._2, cutoffDate))
      if (expired.isEmpty) Left(Seq.empty)
      else {
        // a dataless live version would fail every subsequent read (no
        // schema to infer) — expiring EVERYTHING is a store drop, not
        // retention
        require(survivors.nonEmpty,
          s"retention cutoff $cutoffDate expires every partition of $root — " +
            "refusing to commit an empty store; drop the store explicitly instead")
        // the live rows minus the expired partitions' rows, PHYSICAL on both
        // sides (survivor deletion vectors carry unchanged, so they cancel
        // out of the check), counted over the listing already held
        val dropped = expired.map { case (h, rel) => (s"$root/$h", rel) }.toSet
        val kept = live.entries.filterNot { e =>
          val dirs = e.key.stripPrefix("/").split('/').dropRight(1)
          dirs.indices.exists(i => dropped((e.legBase, dirs.take(i + 1).mkString("/"))))
        }
        // the new version holds no data — every surviving partition is a
        // reference, every expired one is absent
        Right(GraftStore.Staged(expired.map { case (h, rel) => s"$root/$h/$rel" },
          rows = live.physicalRows(kept), manifest = survivors))
      }
    }.fold(_ => Seq.empty, identity)

  private def relExpired(rel: String, cutoffDate: String): Boolean =
    rel.split('/').exists(c =>
      c.startsWith("date=") && c.stripPrefix("date=") < cutoffDate)
}
