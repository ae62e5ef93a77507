package graft.ext

import graft.logs.{AppendCommit, GraftStore, LogIngest}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{ArrayType, IntegerType, LongType, StructField, StructType}

/** ONLINE exact deduplication: documents arrive as a stream, and only
  * content never seen before is admitted into a versioned corpus store —
  * the continuous-ingest counterpart of [[Dedup.exact]], and the shape a
  * training-data pipeline actually runs (the crawl never stops; dedup
  * cannot be a nightly batch over the full corpus).
  *
  * Per micro-batch:
  *   1. fingerprint = `xxhash64(text)` — 8 bytes ride the shuffles, never
  *      document bodies (the [[Dedup]] scale rule);
  *   2. in-batch first-writer-wins: min id per fingerprint (one
  *      batch-sized shuffle);
  *   3. cross-batch: LEFT ANTI join against a BUCKET-PARTITIONED
  *      signature index (`c=<commit>/b=<fingerprint mod N>` hive dirs
  *      beside the store) — the scan reads ONLY the buckets this batch's
  *      fingerprints hash to, so per-batch index I/O follows the batch's
  *      bucket coverage, not the corpus (each bucket holds corpus/N
  *      8-byte rows, kept compact by the debt-gated loop below). A
  *      pre-index store bootstraps the index once from the corpus'
  *      `fingerprint` column, after which the corpus data files are
  *      never opened again for dedup;
  *   4. survivors commit atomically ([[AppendCommit]]) with an
  *      exactly-once `d<sinkId>-b<batchId>` id, THEN their fingerprints
  *      publish as an atomic per-commit index slice — a crash between
  *      the two makes the replay recompute the batch (the commit no-ops
  *      on its recorded id, the slice overwrite is idempotent), and
  *      batches are sequential per query, so the heal always lands
  *      before the next batch reads the index;
  *   5. when the slice count passes `maxIndexSlices`, the batch compacts
  *      the index in-line (single-writer, so nothing races) — the same
  *      debt-gated contract as [[graft.logs.Maintenance]], which also
  *      reaches these indexes for offline runs.
  *
  * First-batch edge: a dataless store (fresh sink) admits everything.
  */
object StreamingDedup {

  /** Default index fan-out: N=64 puts a 10⁹-doc corpus at ~125 MB of
    * 8-byte rows per bucket, while a small batch touching k buckets reads
    * k/64 of the index. Recorded in `_graft_index_meta` on first write —
    * later batches follow the recorded value, so a drifting caller
    * parameter cannot mis-prune.
    */
  val DefaultIndexBuckets = 64

  /** Compact an index once it accumulates more than this many per-commit
    * slices: bounds both the per-batch directory listing and the
    * small-file count regardless of stream lifetime.
    */
  val DefaultMaxIndexSlices = 8

  /** ONE lease serializes every writer of a store's sibling dedup state —
    * concurrent sinks (two streams with different checkpoints on one
    * corpus), direct batch callers, and [[graft.logs.Maintenance]]'s index
    * compaction all queue here for the whole read-decide-commit-index
    * cycle. Without it, two batches that both read the index before either
    * writes would BOTH admit the same text (duplicate survivors — the
    * corpus commit's lease serializes only the pointer flip, not the
    * dedup decision). Exact on `file:` (CREATE_NEW) and on conditional-
    * write object stores ([[graft.sources.S3LiteFileSystem]] maps
    * create-only to `If-None-Match: *`). Throughput contract: concurrent
    * sinks serialize PER BATCH — admission stays a single-writer decision;
    * scale batch size, not writer count. Lock order is always dedup-state
    * lease -> store maintenance lease (inside AppendCommit), never the
    * reverse, so the pair cannot deadlock.
    */
  private[graft] def withStateLock[T](spark: SparkSession, storeRoot: String)
      (f: => T): T =
    graft.logs.MaintenanceLease.withLeaseRetry(spark,
      storeRoot.stripSuffix("/") + "-dedupstate", "dedup-batch",
      attempts = 60, backoffMs = 500)(f)

  /** `leaseWaitMs`/`leaseAcquiredMs`/`leaseReleasedMs` expose the
    * serialize-per-batch contract as data: the held interval
    * [acquired, released] of any two concurrent batches on one store is
    * disjoint (StreamingDedupSpec pins this), and waitMs is the queueing
    * cost a sink operator can surface as a metric.
    */
  final case class BatchResult(streamed: Long, admitted: Long,
      droppedInBatch: Long, droppedExisting: Long, version: Int,
      replayed: Boolean,
      leaseWaitMs: Long = 0L, leaseAcquiredMs: Long = 0L,
      leaseReleasedMs: Long = 0L)

  /** Deduplicate ONE batch against the store and commit the survivors.
    * The streaming sink calls this per micro-batch; batch pipelines can
    * call it directly (e.g. nightly drops of a new crawl slice).
    */
  def dedupAppendBatch(spark: SparkSession, storeRoot: String,
      batch: DataFrame, idCol: String, textCol: String,
      partitionCols: Seq[String], commitId: Option[String] = None,
      maxRecordsPerFile: Long = 1000000L,
      indexBuckets: Int = DefaultIndexBuckets,
      maxIndexSlices: Int = DefaultMaxIndexSlices): BatchResult = {
    val reqMs = System.currentTimeMillis()
    withStateLock(spark, storeRoot) {
      val acqMs = System.currentTimeMillis()
      val r = dedupAppendBatchLocked(spark, storeRoot, batch, idCol, textCol,
        partitionCols, commitId, maxRecordsPerFile, indexBuckets, maxIndexSlices)
      // stamped INSIDE the lease: released is the instant the cycle's work
      // is done, a lower bound of the actual release
      r.copy(leaseWaitMs = acqMs - reqMs, leaseAcquiredMs = acqMs,
        leaseReleasedMs = System.currentTimeMillis())
    }
  }

  private def dedupAppendBatchLocked(spark: SparkSession, storeRoot: String,
      batch: DataFrame, idCol: String, textCol: String,
      partitionCols: Seq[String], commitId: Option[String],
      maxRecordsPerFile: Long,
      indexBuckets: Int,
      maxIndexSlices: Int): BatchResult = {
    val idx = dedupIndexRoot(storeRoot)
    // resurrection guard for the sibling index (a deleted store's ledger
    // dies with its root; this index does not): slices are only ever
    // written AFTER their corpus
    // commit, so "store dataless but index has slices" can only mean the
    // store was deleted and re-created while its sibling index survived —
    // and trusting it would silently drop the fresh store's first
    // documents as duplicates of the dead corpus
    val dataless = GraftStore.isDataless(spark, storeRoot)
    if (dataless) dropStaleIndex(spark, idx)
    val withFp = batch.withColumn("fingerprint", xxhash64(col(textCol)))
      .persist()
    try {
      val nb = effectiveBuckets(spark, idx, indexBuckets)
      // ONE pass over the persisted batch answers four questions: rows
      // streamed, distinct fingerprints plus whether a null-text group
      // exists (their sum == the first-writer-wins frame's size —
      // countDistinct skips the null group the window keeps, so a bare
      // countDistinct under-counted and reported droppedExisting = -1),
      // and the bucket set (bounded by the fan-out) pruning the index read
      val hdr = withFp.agg(count(lit(1)), countDistinct(col("fingerprint")),
        count(when(col("fingerprint").isNull, lit(1))),
        collect_set(pmod(col("fingerprint"), lit(nb)).cast("int"))).head()
      val streamed = hdr.getLong(0)
      val inBatchCount = hdr.getLong(1) + (if (hdr.getLong(2) > 0) 1L else 0L)
      val batchBuckets = hdr.getSeq[Int](3)
      // stream-body sessions only: size every downstream batch shuffle to
      // the trigger's measured cardinality (AQE is pinned off here, so its
      // coalescing must be applied statically — see GraftSession)
      graft.GraftSession.sizeStreamBodyShuffle(spark, streamed)
      val inBatch = withFp
        .withColumn("_rn", row_number().over(
          Window.partitionBy(col("fingerprint")).orderBy(col(idCol))))
        .filter(col("_rn") === 1).drop("_rn")
      val seen: Option[DataFrame] =
        readBucketed(spark, idx, "b", batchBuckets, Some(FingerprintIndexSchema))
          .map(_.select(col("fingerprint")))
          .orElse {
            if (dataless)
              None // dataless store, no index: first batch admits everything
            else {
              // pre-index store (batch-built corpus, first streaming
              // attach): bootstrap the signature index ONCE from the
              // corpus' own fingerprint column — the last corpus-wide
              // data scan this store's dedup path ever runs
              writeSliceAtomic(spark,
                GraftStore.readStore(spark, storeRoot)
                  .select(col("fingerprint")).distinct(),
                idx, "c=bootstrap",
                Some(("b", pmod(col("fingerprint"), lit(nb)))))
              readBucketed(spark, idx, "b", batchBuckets,
                  Some(FingerprintIndexSchema))
                .map(_.select(col("fingerprint")))
            }
          }
      val fresh = seen.fold(inBatch)(s =>
        inBatch.join(s, Seq("fingerprint"), "left_anti")).persist()
      try {
        val admitted = fresh.count()
        val result =
          if (admitted == 0)
            // fully-duplicate batch: no version churn; idempotent under
            // replay (a re-run re-deduplicates to the same zero survivors)
            BatchResult(streamed, 0L,
              droppedInBatch = streamed - inBatchCount,
              droppedExisting = inBatchCount,
              version = GraftStore.liveVersionOf(spark, storeRoot),
              replayed = false)
          else {
            val committed = AppendCommit.commit(fresh, storeRoot,
              partitionCols = partitionCols,
              maxRecordsPerFile = maxRecordsPerFile, commitId = commitId)
            // corpus FIRST, index slice SECOND: a crash in between leaves
            // the slice missing, the replayed batch recomputes the same
            // survivors (the commit no-ops on its recorded id) and the
            // slice overwrite heals — written on replay too, for exactly
            // that case
            writeSliceAtomic(spark, fresh.select(col("fingerprint")),
              idx, s"c=${commitId.getOrElse(newSliceId())}",
              Some(("b", pmod(col("fingerprint"), lit(nb)))))
            BatchResult(streamed, admitted,
              droppedInBatch = streamed - inBatchCount,
              droppedExisting = inBatchCount - admitted,
              version = committed.version, replayed = committed.replayed)
          }
        compactIndex(spark, idx, Seq("fingerprint"), maxIndexSlices)
        result
      } finally fresh.unpersist()
    } finally withFp.unpersist()
  }

  final case class NearDupResult(streamed: Long, admitted: Long,
      droppedSeenId: Long, droppedNearDup: Long, version: Int,
      replayed: Boolean)

  /** ONLINE NEAR-duplicate filtering for one micro-batch: admit a document
    * only when no EARLIER-SEEN document is an n-gram-Jaccard near-dup
    * (J ≥ `threshold`) — the streaming counterpart of
    * [[Dedup.minhashLshPairs]], with exact verification.
    *
    * The LSH state lives in STORES, not in streaming operator state: a
    * `bands` index ((band, bucket, doc_id) — 8-byte rows) serves candidate
    * generation by equi-join, and a `grams` index (doc_id → distinct
    * shingle hashes, stored ONCE per doc) serves exact verification. That
    * is the 100 TB shape: checkpoint state stays empty (restart-safe with
    * no state-store bloat), the indexes are columnar, compactable, and
    * queryable, and a crawler re-visit is an 8-byte id anti-join. Both
    * indexes are BUCKET-PARTITIONED (`c=<commit>/pb=<hash mod N>` /
    * `gb=<hash mod N>` dirs) so every per-batch read below prunes to the
    * buckets the batch's keys hash to — per-batch index I/O follows the
    * batch, not the corpus — and the debt-gated compaction keeps slice
    * counts bounded. Per batch:
    *   1. id-resends drop (`doc_id` already in the grams index — read
    *      pruned to the batch ids' `gb` buckets);
    *   2. shingle + MinHash + band the fresh docs (one projection, no
    *      shuffle — `bands=32, rows=2` puts the τ=0.8 miss probability
    *      per true pair below 1e-14);
    *   3. candidates = bands-index ⋈ batch bands on (band, bucket) — the
    *      index side pruned to the batch's `pb = hash(band, bucket) % N`
    *      buckets, which is exactly where any matching row must live —
    *      plus the in-batch self-join (earlier = smaller `doc_id`, the
    *      d10 arrival rule);
    *   4. exact Jaccard on the 8-byte shingle sets verifies candidates
    *      (hash collisions only ADD candidates; the exact check
    *      decides) — the earlier side's grams read pruned to the
    *      candidates' `gb` buckets;
    *   5. survivors commit exactly-once ([[AppendCommit]] + `commitId`);
    *      ALL fresh docs (admitted or dropped — "earlier seen", not
    *      "earlier admitted", keeps the policy non-recursive and
    *      SQL-restatable) land in both indexes under a
    *      per-commit directory, so a replayed batch overwrites its own
    *      index slice instead of doubling it.
    *
    * Documents with fewer than `n` tokens have no shingles: they are never
    * near-dups (of anything) and always admit — matching the batch
    * operators' semantics.
    */
  def nearDupAppendBatch(spark: SparkSession, storeRoot: String,
      batch: DataFrame, idCol: String, textCol: String,
      partitionCols: Seq[String], commitId: String,
      n: Int = 3, numHashes: Int = 64, bands: Int = 32,
      threshold: Double = 0.8,
      maxRecordsPerFile: Long = 1000000L,
      indexBuckets: Int = DefaultIndexBuckets,
      maxIndexSlices: Int = DefaultMaxIndexSlices): NearDupResult =
      withStateLock(spark, storeRoot) {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val rows = numHashes / bands
    val idx = indexRoot(storeRoot)
    val bandsRoot = s"$idx/bands"
    val gramsRoot = s"$idx/grams"
    // resurrection guard — see dedupAppendBatch: index slices imply their
    // corpus commit, so a dataless store with surviving sibling indexes is
    // a deleted store's ghost state and must not veto fresh admissions
    if (GraftStore.isDataless(spark, storeRoot)) dropStaleIndex(spark, idx)
    val nb = effectiveBuckets(spark, idx, indexBuckets)
    import graft.expr.SketchFunctions
    // the kernel already dedupes shingle hashes, and array_intersect/
    // array_union need no sort — trust it like Dedup.shingleHashes does
    val withG = batch.dropDuplicates(idCol).withColumn("grams",
        SketchFunctions.wordShingleHashes(col(textCol), n))
      // _ck keys the exact-twin collapse below: identical gram sets hash
      // equal; gram-less docs (no shingles) stay null and bypass it
      .withColumn("_ck", when(size(col("grams")) >= 1, xxhash64(col("grams"))))
      .persist()
    try {
      val hdr = withG.agg(count(lit(1)),
        collect_set(pmod(xxhash64(col(idCol)), lit(nb)).cast("int"))).head()
      val streamed = hdr.getLong(0)
      val idBuckets = hdr.getSeq[Int](1)
      // see dedupAppendBatchLocked: static AQE-coalesce analogue, scoped to
      // the per-query stream-session clone
      graft.GraftSession.sizeStreamBodyShuffle(spark, streamed)
      val seenIds = readBucketed(spark, gramsRoot, "gb", idBuckets,
        Some(GramsIndexSchema))
        .map(_.select(col("doc_id").as(idCol)))
      val fresh = seenIds.fold(withG.toDF())(s =>
        withG.join(s, Seq(idCol), "left_anti")).persist()
      try {
        // one pass over the persisted fresh frame: row count + twin census
        val fhdr = fresh.agg(count(lit(1)), count(col("_ck")),
          countDistinct(col("_ck"))).head()
        val freshCount = fhdr.getLong(0)
        val hasTwins = fhdr.getLong(1) != fhdr.getLong(2)
        // EXACT-twin collapse — the adversarial-identical-batch guard: a
        // batch of 10⁴ copies of one document would put 10⁴ rows in every
        // band bucket and the in-batch self-join would emit 10⁸ pairs per
        // band. Identical gram SETS are J=1 near-dups of each other at any
        // τ ≤ 1, so all copies collapse to their min-id representative
        // BEFORE the LSH machinery: the copies drop by identity (their
        // earlier-seen twin is the representative — the arrival rule,
        // unchanged), only representatives band/self-join/land in the
        // bands index (equivalent: a future near-dup of the family meets
        // the representative's identical bands and grams), and every
        // fresh doc still lands in the grams index (the id authority).
        // The common twin-free batch skips the collapse joins entirely —
        // the census above already proved them a no-op.
        val (reps, collapsed) =
          if (!hasTwins) (fresh.drop("_ck"), None)
          else {
            val repIds = fresh.filter(col("_ck").isNotNull)
              .groupBy(col("_ck")).agg(min(col(idCol)).as("_rep"))
            val keyedReps = fresh.join(repIds, Seq("_ck"), "left")
            (keyedReps.filter(col("_ck").isNull || col(idCol) === col("_rep"))
              .drop("_ck", "_rep"),
              Some(keyedReps
                .filter(col("_ck").isNotNull && col(idCol) =!= col("_rep"))
                .select(col(idCol))))
          }
        val sigs = reps.filter(size(col("grams")) >= 1)
          .withColumn("sig", SketchFunctions.minHashSig(col("grams"), numHashes))
        val batchBands = Dedup.bandedBuckets(
          sigs.select(col(idCol).as("doc_id"), col("sig")), bands, rows)
          .persist()
        try {
          val gramsOf = fresh.select(col(idCol).as("doc_id"), col("grams"))
          val bandBuckets = bucketsOf(batchBands,
            pmod(xxhash64(col("band"), col("bucket")), lit(nb)))
          // id_a ≠ id_b: a doc can meet ITS OWN index rows after a crash
          // landed the bands slice but not the grams slice (the replay
          // recomputes the whole batch) — self-identity is never a dup;
          // genuine id re-sends never reach here (the grams-index
          // anti-join dropped them)
          val crossPairs = readBucketed(spark, bandsRoot, "pb", bandBuckets,
            Some(BandsIndexSchema))
            .map(sb =>
              sb.select(col("band"), col("bucket"), col("doc_id").as("id_a"))
                .join(batchBands.select(col("band"), col("bucket"),
                  col("doc_id").as("id_b")), Seq("band", "bucket"))
                .filter(col("id_a") =!= col("id_b"))
                .select(col("id_a"), col("id_b")))
          val inBatchPairs = batchBands.as("a")
            .join(batchBands.as("b"),
              col("a.band") === col("b.band") &&
                col("a.bucket") === col("b.bucket") &&
                col("a.doc_id") < col("b.doc_id"))
            .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
          val rawCand = crossPairs.fold(inBatchPairs)(_.unionAll(inBatchPairs))
            .dropDuplicates("id_a", "id_b")
          // orient pairs whose "earlier" side is itself IN this batch —
          // possible only through a stale bands slice from a crashed run:
          // within one batch the arrival rule is doc_id order, so (a, b)
          // with a > b would wrongly drop the EARLIER member on replay.
          // Persisted: the candidate set is consumed twice — once to
          // collect its id_a buckets (pruning the verification's grams
          // read), once in the verification join itself.
          val freshA = fresh.select(col(idCol).as("id_a"))
            .withColumn("_in_batch", lit(true))
          val cand = rawCand.join(freshA, Seq("id_a"), "left")
            .filter(col("_in_batch").isNull || col("id_a") < col("id_b"))
            .drop("_in_batch")
            .persist()
          try {
            val candBuckets = bucketsOf(cand,
              pmod(xxhash64(col("id_a")), lit(nb)))
            val earlierIdxGrams = readBucketed(spark, gramsRoot, "gb",
              candBuckets, Some(GramsIndexSchema))
              .map(_.select(col("doc_id"), col("grams")))
            val earlierGrams =
              earlierIdxGrams.fold(gramsOf)(_.unionByName(gramsOf))
            val dupIds = cand
              .join(earlierGrams.select(col("doc_id").as("id_a"),
                col("grams").as("grams_a")), "id_a")
              .join(gramsOf.select(col("doc_id").as("id_b"),
                col("grams").as("grams_b")), "id_b")
              .filter(size(array_intersect(col("grams_a"), col("grams_b")))
                .cast("double") /
                size(array_union(col("grams_a"), col("grams_b"))) >= threshold)
              .select(col("id_b").as(idCol)).distinct()
            val dupIdsAll = collapsed.fold(dupIds)(c =>
              dupIds.unionByName(c).distinct())
            val survivors = fresh.join(dupIdsAll, Seq(idCol), "left_anti")
              .drop("grams", "_ck").persist()
            try {
              val admitted = survivors.count()
              val result =
                if (admitted == 0)
                  NearDupResult(streamed, 0L,
                    droppedSeenId = streamed - freshCount,
                    droppedNearDup = freshCount,
                    version = GraftStore.liveVersionOf(spark, storeRoot),
                    replayed = false)
                else {
                  val committed = AppendCommit.commit(survivors, storeRoot,
                    partitionCols = partitionCols,
                    maxRecordsPerFile = maxRecordsPerFile,
                    commitId = Some(commitId))
                  NearDupResult(streamed, admitted,
                    droppedSeenId = streamed - freshCount,
                    droppedNearDup = freshCount - admitted,
                    version = committed.version, replayed = committed.replayed)
                }
              // index slices are per-commit directories PUBLISHED BY RENAME
              // (write to an underscore-prefixed staging dir Spark readers
              // ignore, then one atomic directory rename): a slice is
              // all-or-nothing, so a replay can never see — or overwrite
              // down to — a partial id set. Order stays crash-deliberate:
              // corpus commit, THEN bands, THEN grams — the grams index is
              // the id-authority the resend anti-join reads, so any crash
              // before it lands makes the replay recompute the whole batch
              // (healing a stale bands slice) instead of silently skipping
              // docs whose buckets never landed.
              // the bands slice is written only when the batch HAS banded
              // docs: a partitioned write of an empty frame emits no
              // parquet files, and a file-less slice dir would wedge every
              // later read on schema inference (an all-short-docs first
              // batch is the trigger; such docs carry no bands anyway)
              if (fhdr.getLong(1) > 0) {
                writeSliceAtomic(spark, batchBands, bandsRoot, s"c=$commitId",
                  Some(("pb",
                    pmod(xxhash64(col("band"), col("bucket")), lit(nb)))))
              }
              if (freshCount > 0) {
                writeSliceAtomic(spark,
                  fresh.select(col(idCol).as("doc_id"), col("grams")),
                  gramsRoot, s"c=$commitId",
                  Some(("gb", pmod(xxhash64(col("doc_id")), lit(nb)))))
              }
              compactIndex(spark, bandsRoot,
                Seq("band", "bucket", "doc_id"), maxIndexSlices)
              compactIndex(spark, gramsRoot, Seq("doc_id"), maxIndexSlices)
              result
            } finally survivors.unpersist()
          } finally cand.unpersist()
        } finally batchBands.unpersist()
      } finally fresh.unpersist()
    } finally withG.unpersist()
  }

  // ---- bucketed index plumbing -----------------------------------------

  /** The exact-dedup signature index lives NEXT TO the store root (like
    * the near-dup indexes: store directories are versioned snapshots).
    */
  private[graft] def dedupIndexRoot(storeRoot: String): String =
    storeRoot.stripSuffix("/") + GraftStore.DedupIndexSuffix

  /** The near-dup LSH indexes live NEXT TO the store root (not inside it:
    * store directories are versioned snapshots).
    */
  private[graft] def indexRoot(storeRoot: String): String =
    storeRoot.stripSuffix("/") + GraftStore.NearDupIndexSuffix

  /** The distinct bucket values a frame's key expression hashes to —
    * bounded by the bucket fan-out (≤ N ints), so the driver collect is
    * k-bounded metadata, never data-plane.
    */
  private def bucketsOf(df: DataFrame, bucketExpr: Column): Seq[Int] =
    df.select(bucketExpr.cast("int").as("_bkt")).distinct()
      .collect().map(_.getInt(0)).toSeq

  /** Published slice dirs under an index root, split into (bucketed,
    * legacy): a bucketed slice carries `pcol=<k>` hive subdirs, a legacy
    * (pre-bucketing) slice holds its parquet files directly. The listing
    * is slice-bounded metadata (compaction keeps the count under
    * `maxIndexSlices`), never data-plane.
    */
  private def classifySlices(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path, pcol: String)
      : (Seq[org.apache.hadoop.fs.Path], Seq[org.apache.hadoop.fs.Path]) = {
    val slices = fs.listStatus(root).filter(s =>
      s.isDirectory && s.getPath.getName.startsWith("c=")).map(_.getPath).toSeq
    slices.partition(s => fs.listStatus(s).exists(d =>
      d.isDirectory && d.getPath.getName.startsWith(pcol + "=")))
  }

  /** Pruned read of a bucketed index: of every slice, only the partition
    * dirs whose `pcol` value is in `buckets` feed the scan (hive partition
    * pruning on the bucket column — StreamingDedupSpec asserts scanned
    * files follow the batch's buckets, not the index size). None when the
    * index does not exist yet.
    *
    * Migration path: slices written before the bucketed layout carry no
    * `pcol` column, and a single mixed-tree read would throw (conflicting
    * partition structures) — wedging the stream permanently. Legacy
    * slices are therefore read SEPARATELY and unpruned (correct, just not
    * skippy) and unioned in; the in-line [[compactIndex]] rewrites the
    * whole tree into one bucketed slice once the slice gate trips, after
    * which the legacy branch disappears.
    */
  private[graft] def readBucketed(spark: SparkSession, path: String,
      pcol: String, buckets: Seq[Int],
      schema: Option[StructType] = None): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // "exists" means AT LEAST ONE published slice — the root dir appears
    // earlier than the first slice (the meta marker creates it), and a
    // staging dir must never count
    if (!fs.exists(p)) return None
    val (bucketed, legacy) = classifySlices(fs, p, pcol)
    // the index payload schemas are fixed by their writers, so every
    // per-batch read passes the schema explicitly (r17, guide §1.3 driver
    // fixed cost): schema INFERENCE ran a footer-read Spark job per read —
    // 12 small jobs per cold d11 gate, pure per-batch driver latency.
    // Partition columns (c, pcol) stay discovered from directory names
    // (driver-side, no job), exactly as before.
    def read(paths: Seq[org.apache.hadoop.fs.Path]): DataFrame = {
      val r = spark.read.option("basePath", path)
      schema.fold(r)(r.schema).parquet(paths.map(_.toString): _*)
    }
    val pruned =
      if (bucketed.isEmpty) None
      else Some(read(bucketed)
        .filter(col(pcol).isin(buckets: _*))
        .drop("c", pcol))
    val full =
      if (legacy.isEmpty) None
      else Some(read(legacy).drop("c"))
    (pruned, full) match {
      case (Some(a), Some(b)) => Some(a.unionByName(b))
      case (a, b) => a.orElse(b)
    }
  }

  /** The three index payload schemas, exactly as their writers produce them
    * (parquet round-trips everything nullable): the per-batch reads pass
    * these so no footer-inference job runs inside a micro-batch body.
    */
  private[graft] val FingerprintIndexSchema: StructType =
    StructType(Seq(StructField("fingerprint", LongType)))
  private[graft] val BandsIndexSchema: StructType =
    StructType(Seq(StructField("band", IntegerType),
      StructField("bucket", LongType), StructField("doc_id", LongType)))
  private[graft] val GramsIndexSchema: StructType =
    StructType(Seq(StructField("doc_id", LongType),
      StructField("grams", ArrayType(LongType))))

  /** Publish one index slice atomically: write under an
    * underscore-prefixed staging directory (invisible to Spark readers),
    * then a single directory rename. A crash leaves either no slice or a
    * complete one — never a partial id set for the replay to trust.
    * `bucketing = (partition column, bucket expression)` lays the slice
    * out as `<name>/<pcol>=<k>` hive dirs, one writer task per bucket.
    */
  private def writeSliceAtomic(spark: SparkSession, df: DataFrame,
      parent: String, name: String,
      bucketing: Option[(String, Column)] = None): Unit = {
    val dir = new org.apache.hadoop.fs.Path(parent)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new org.apache.hadoop.fs.Path(dir, s"_staging-$name")
    val dst = new org.apache.hadoop.fs.Path(dir, name)
    bucketing match {
      case Some((pcol, expr)) =>
        df.withColumn(pcol, expr.cast("int"))
          .repartition(col(pcol))
          .write.partitionBy(pcol).mode("overwrite").parquet(tmp.toString)
      case None =>
        df.write.mode("overwrite").parquet(tmp.toString)
    }
    if (fs.exists(dst)) fs.delete(dst, true)
    if (!fs.rename(tmp, dst))
      throw new java.io.IOException(s"atomic publish failed: $tmp -> $dst")
  }

  private def newSliceId(): String =
    java.util.UUID.randomUUID().toString.take(8)

  private val MetaName = "_graft_index_meta"

  /** Delete a surviving index tree whose owning store no longer holds data
    * (see the resurrection guards at both batch entries). Removing the
    * whole root also clears the fan-out marker, so the rebuilt index is
    * free to record a new bucket count.
    */
  private def dropStaleIndex(spark: SparkSession, idxRoot: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(idxRoot)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
  }

  /** The bucket fan-out this index was BUILT with: recorded on first use,
    * authoritative afterwards — a caller passing a different number later
    * gets the recorded one (a silent mismatch would prune the wrong
    * directories, which is a correctness error, not a tuning choice).
    * The marker is published atomically ([[GraftStore.atomicWriteBytes]]):
    * a bare create-then-write could crash in between and leave an empty
    * marker every later batch chokes on.
    */
  private[graft] def effectiveBuckets(spark: SparkSession, idxRoot: String,
      requested: Int): Int = {
    require(requested >= 1, s"indexBuckets must be >= 1, got $requested")
    val p = new org.apache.hadoop.fs.Path(idxRoot, MetaName)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) {
      val in = fs.open(p)
      val text = try new String(
        org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
      finally in.close()
      text.trim.stripPrefix("buckets=").toInt
    } else {
      fs.mkdirs(p.getParent)
      GraftStore.atomicWriteBytes(spark, p,
        s"buckets=$requested".getBytes("UTF-8"))
      requested
    }
  }

  /** Debt-gated index compaction: once more than `maxSlices` per-commit
    * slice dirs exist, merge them into one `c=compact-*` slice (same
    * bucket layout, duplicates dropped) published by atomic rename, then
    * delete the merged slices. Readers tolerate every crash window:
    * compact-published-but-olds-undeleted only duplicates rows, which the
    * anti-join / candidate-dedup / verification-distinct consumers
    * absorb, and the next compaction converges. Single-writer by
    * contract — the streaming batch loop calls this in-line between its
    * own reads, and [[graft.logs.Maintenance]] only touches a quiesced
    * stream's indexes.
    */
  /** Bucket column for an index payload (the three index kinds have
    * disjoint schemas) and its recomputable bucket expression — the same
    * deterministic hash the writers use, so rebucketing legacy rows lands
    * them exactly where a pruned read will look.
    */
  private def bucketingFor(columns: Seq[String], nb: Int)
      : Option[(String, Column)] =
    if (columns.contains("fingerprint"))
      Some(("b", pmod(col("fingerprint"), lit(nb))))
    else if (columns.contains("band"))
      Some(("pb", pmod(xxhash64(col("band"), col("bucket")), lit(nb))))
    else if (columns.contains("doc_id"))
      Some(("gb", pmod(xxhash64(col("doc_id")), lit(nb))))
    else None

  /** The recorded bucket fan-out for an index root: the meta marker lives
    * at the root itself (exact-dedup index) or at the parent (the near-dup
    * bands/grams subdirs share their parent's marker). None for a
    * pre-bucketing tree that has never seen an upgraded batch.
    */
  private def recordedBuckets(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): Option[Int] =
    Seq(new org.apache.hadoop.fs.Path(root, MetaName),
      new org.apache.hadoop.fs.Path(root.getParent, MetaName))
      .find(fs.exists)
      .map { m =>
        val in = fs.open(m)
        val text = try new String(
          org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
        finally in.close()
        text.trim.stripPrefix("buckets=").toInt
      }

  private[graft] def compactIndex(spark: SparkSession, root: String,
      dedupKeys: Seq[String], maxSlices: Int,
      force: Boolean = false): Boolean = {
    val p = new org.apache.hadoop.fs.Path(root)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return false
    val slices = fs.listStatus(p).filter(s => s.isDirectory &&
      s.getPath.getName.startsWith("c=")).map(_.getPath)
    if (slices.length <= (if (force) 1 else maxSlices)) return false
    // read bucketed and legacy slice groups separately (a single read of a
    // mixed tree throws on conflicting partition structures), merge the
    // PAYLOAD, and recompute the bucket column for every row — this is
    // also the one-time migration that turns a pre-bucketing tree into a
    // pruned one
    val (bucketedSlices, legacySlices) = classifySlicesAny(fs, p)
    def readGroup(g: Seq[org.apache.hadoop.fs.Path]): Option[DataFrame] =
      if (g.isEmpty) None
      else Some(spark.read.option("basePath", root)
        .parquet(g.map(_.toString): _*)
        .drop("c", "b", "pb", "gb"))
    val payload = (readGroup(bucketedSlices), readGroup(legacySlices)) match {
      case (Some(a), Some(b)) => a.unionByName(b)
      case (a, b) => a.orElse(b).get
    }
    val merged = payload.dropDuplicates(dedupKeys)
    val bucketing = recordedBuckets(fs, p)
      .flatMap(nb => bucketingFor(merged.columns.toSeq, nb))
    writeSliceAtomic(spark, merged, root, s"c=compact-${newSliceId()}",
      bucketing)
    slices.foreach(s => fs.delete(s, true))
    true
  }

  /** [[classifySlices]] against any of the three bucket column names —
    * compaction doesn't know its index kind up front.
    */
  private def classifySlicesAny(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path)
      : (Seq[org.apache.hadoop.fs.Path], Seq[org.apache.hadoop.fs.Path]) = {
    val slices = fs.listStatus(root).filter(s =>
      s.isDirectory && s.getPath.getName.startsWith("c=")).map(_.getPath).toSeq
    slices.partition(s => fs.listStatus(s).exists(d => d.isDirectory &&
      Seq("b=", "pb=", "gb=").exists(d.getPath.getName.startsWith)))
  }

  /** Continuous online NEAR-dup filtering: every micro-batch admits only
    * documents with no earlier-seen Jaccard near-dup, exactly-once.
    */
  def startNearDupSink(docs: DataFrame, storeRoot: String, checkpoint: String,
      idCol: String, textCol: String, partitionCols: Seq[String],
      n: Int = 3, numHashes: Int = 64, bands: Int = 32,
      threshold: Double = 0.8,
      triggerInterval: String = "60 seconds",
      maxRecordsPerFile: Long = 1000000L,
      indexBuckets: Int = DefaultIndexBuckets,
      maxIndexSlices: Int = DefaultMaxIndexSlices): StreamingQuery = {
    val spark = docs.sparkSession
    val sinkId = GraftStore.sinkIdFor(checkpoint)
    LogIngest.ensureStore(spark, storeRoot)
    docs.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        nearDupAppendBatch(batchSession(batch), storeRoot, batch.toDF(),
          idCol, textCol,
          partitionCols, commitId = s"nd$sinkId-b$batchId",
          n = n, numHashes = numHashes, bands = bands, threshold = threshold,
          maxRecordsPerFile = maxRecordsPerFile,
          indexBuckets = indexBuckets, maxIndexSlices = maxIndexSlices)
        ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.ProcessingTime(triggerInterval))
      .start()
  }

  /** See [[graft.GraftSession.microBatchSession]]: bind the micro-batch
    * body to the stream-session clone with AQE pinned off — the body's
    * frames are trigger-bounded, so AQE's per-stage re-planning is pure
    * driver latency here (measured r16: cold d11 55.9 -> 33.9 s).
    */
  private def batchSession(batch: org.apache.spark.sql.Dataset[_]): SparkSession =
    graft.GraftSession.microBatchSession(batch)

  /** Continuous online dedup: every micro-batch of `docs` admits only
    * never-seen content into the store, exactly-once per batch.
    */
  def startDedupSink(docs: DataFrame, storeRoot: String, checkpoint: String,
      idCol: String, textCol: String, partitionCols: Seq[String],
      triggerInterval: String = "60 seconds",
      maxRecordsPerFile: Long = 1000000L,
      indexBuckets: Int = DefaultIndexBuckets,
      maxIndexSlices: Int = DefaultMaxIndexSlices): StreamingQuery = {
    val spark = docs.sparkSession
    val sinkId = GraftStore.sinkIdFor(checkpoint)
    LogIngest.ensureStore(spark, storeRoot)
    docs.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        dedupAppendBatch(batchSession(batch), storeRoot, batch.toDF(),
          idCol, textCol,
          partitionCols, commitId = Some(s"d$sinkId-b$batchId"),
          maxRecordsPerFile = maxRecordsPerFile,
          indexBuckets = indexBuckets, maxIndexSlices = maxIndexSlices)
        ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.ProcessingTime(triggerInterval))
      .start()
  }
}
