package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

/** Structured Streaming half of the CDC pipeline: the continuous
  * capture → normalize → sync loop that PeerDB's flow-worker runs
  * (docker-compose.yml services `flow-worker`/`flow_api` in the reference),
  * re-expressed as Spark streams.
  *
  * Three composable stages:
  *  - [[normalize]]: watermark + exact-once-per-version dedup of the raw
  *    change feed (PeerDB's "normalize" step).
  *  - [[runningLatest]]: stateful newest-version-per-key changelog via
  *    `flatMapGroupsWithState` — emits a row whenever a key's latest row
  *    changes, i.e. a ReplacingMergeTree that pushes updates.
  *  - [[mirrorToParquet]]: `foreachBatch` merge into a bucketed parquet
  *    mirror — batch-id'd upserts like PeerDB's sync step.
  *
  * Scale notes: state in `runningLatest` is one small row per key, hash
  * partitioned by the grouping key (Spark shuffles each microbatch to the
  * state store partitioning once). The parquet mirror is bucketed by key
  * hash so a microbatch rewrites only the buckets it touches — appended as
  * fresh files and flipped into visibility by one atomic manifest commit
  * ([[graft.sources.SyncManifest]]), so readers always see a whole sync; at
  * production scale the same merge targets a transactional table format.
  */
object CdcStream {

  /** A normalized change event, PeerDB-style: key + monotonically increasing
    * version + op (insert/update/delete) + payload columns.
    */
  case class Change(key: Long, version: Long, op: String,
                    ts: java.sql.Timestamp, payload: String)

  /** Snapshot row the mirror maintains per key. */
  case class Latest(key: Long, version: Long, op: String,
                    ts: java.sql.Timestamp, payload: String, isDeleted: Boolean)

  /** Watermark + dedup: at-least-once feeds often redeliver (PeerDB resumes
    * from the replication slot); collapsing on (key, version) inside the
    * watermark makes the downstream merge idempotent.
    */
  def normalize(changes: DataFrame, tsCol: String, keyCol: String,
                versionCol: String, watermark: String = "1 hour"): DataFrame =
    changes.withWatermark(tsCol, watermark)
      .dropDuplicates(Seq(keyCol, versionCol))

  /** Stateful running-latest changelog: for each key, keep the max-version
    * row in state; emit it whenever it changes. Update-mode compatible.
    */
  def runningLatest(changes: Dataset[Change], deleteOp: String = "delete"): Dataset[Latest] = {
    import changes.sparkSession.implicits._
    changes.groupByKey(_.key)
      .flatMapGroupsWithState[Latest, Latest](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (key: Long, rows: Iterator[Change], state: GroupState[Latest]) =>
          val incoming = rows.maxByOption(_.version)
          val current = state.getOption
          incoming match {
            case Some(c) if current.forall(_.version < c.version) =>
              val next = Latest(key, c.version, c.op, c.ts, c.payload, c.op == deleteOp)
              state.update(next)
              Iterator.single(next)
            case _ => Iterator.empty
          }
      }
  }

  /** Continuous parquet mirror: each microbatch is merged into
    * `targetDir` keeping the newest version per key. The mirror is
    * partitioned by `bucket = pmod(hash(key), nBuckets)` and only the
    * buckets present in the batch are replaced, via append + atomic
    * manifest commit ([[commitBuckets]]) — the merge job reads the
    * committed generation while writing the next one.
    */
  def mirrorToParquet(changes: Dataset[Change], targetDir: String,
                      checkpointDir: String, nBuckets: Int = 64,
                      deleteOp: String = "delete",
                      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val spark = changes.sparkSession
    changes.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Update())
      .trigger(trigger)
      .foreachBatch { (batch: Dataset[Change], batchId: Long) =>
        mergeBatch(spark, batch, targetDir, nBuckets, deleteOp, batchId)
      }
      .start()
  }

  /** [[mirrorToParquet]] with a maintained aggregate riding the same
    * microbatches — the streaming half of the ClickHouse
    * materialized-view pattern (the MV populates its Summing target as
    * inserts land; here each foreachBatch refreshes `agg` with the batch's
    * pre-image retraction BEFORE merging the batch into the mirror, so the
    * retraction reads the committed pre-batch state). At-least-once safe:
    * the mirror merge is idempotent by construction, and
    * [[graft.operators.MaterializedAgg.refreshBatch]] skips the replayed
    * batch ids that would otherwise double-count the additive partials.
    *
    * @param prepare derives the aggregate's group/sum columns from the
    *                change rows (e.g. parse an amount out of the payload);
    *                applied to the batch upserts and the mirror pre-image
    *                alike, must preserve the key column
    */
  def mirrorToParquetWithAgg(changes: Dataset[Change], targetDir: String,
                             checkpointDir: String,
                             agg: graft.operators.MaterializedAgg,
                             prepare: DataFrame => DataFrame = identity,
                             nBuckets: Int = 64, deleteOp: String = "delete",
                             trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val spark = changes.sparkSession
    changes.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Update())
      .trigger(trigger)
      .foreachBatch { (batch: Dataset[Change], batchId: Long) =>
        if (!batch.isEmpty) {
          val upserts = prepare(
            graft.operators.CdcOps.latestSnapshot(batch.toDF(), Seq("key"), "version")
              .withColumn("is_deleted", col("op") === deleteOp))
          val live =
            if (!hasVisibleParquet(spark, targetDir)) upserts.limit(0)
            else prepare(graft.sources.SyncManifest.readCommitted(spark, targetDir)
              .where(!col("is_deleted")))
          agg.refreshBatch(batchId, live, upserts, Seq("key"), "is_deleted")
          mergeBatch(spark, batch, targetDir, nBuckets, deleteOp, batchId)
        }
      }
      .start()
  }

  /** [[mirrorToParquet]] with a maintained approximate-distinct sketch set
    * riding the same microbatches — the streaming half of the ClickHouse
    * `uniqState` materialized-view pattern. Each foreachBatch appends one
    * delta-sized sketch generation built from the batch's NON-DELETED
    * upserts before merging the batch into the mirror.
    *
    * Insert-only semantics (an HLL sketch cannot forget): deletes are
    * ignored by the sketch, and an update whose tracked value changes adds
    * the new value while the old stays counted — the maintained figure is
    * "distinct values ever observed", not "distinct values live in the
    * mirror". At-least-once safe via
    * [[graft.operators.DistinctAgg.refreshBatch]]'s batch-id high-water
    * mark.
    *
    * @param prepare derives the group/tracked columns from the change rows
    *                (same contract as [[mirrorToParquetWithAgg]])
    */
  def mirrorToParquetWithDistinct(changes: Dataset[Change], targetDir: String,
                                  checkpointDir: String,
                                  agg: graft.operators.DistinctAgg,
                                  prepare: DataFrame => DataFrame = identity,
                                  nBuckets: Int = 64,
                                  deleteOp: String = "delete",
                                  trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    insertArtifactRider(changes, targetDir, checkpointDir, prepare, nBuckets,
      deleteOp, trigger) { (batchId, inserts) =>
      agg.refreshBatch(batchId, inserts); ()
    }

  /** [[mirrorToParquet]] with maintained approximate QUANTILES riding the
    * microbatches — the streaming half of the ClickHouse `quantileState`
    * materialized-view pattern, same insert-only contract and replay
    * safety as the distinct-count rider.
    */
  def mirrorToParquetWithQuantiles(changes: Dataset[Change], targetDir: String,
                                   checkpointDir: String,
                                   agg: graft.operators.QuantileAgg,
                                   prepare: DataFrame => DataFrame = identity,
                                   nBuckets: Int = 64,
                                   deleteOp: String = "delete",
                                   trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    insertArtifactRider(changes, targetDir, checkpointDir, prepare, nBuckets,
      deleteOp, trigger) { (batchId, inserts) =>
      agg.refreshBatch(batchId, inserts); ()
    }

  /** [[mirrorToParquet]] with maintained approximate TOP-K (heavy hitters)
    * riding the microbatches — the streaming half of the ClickHouse
    * `topKState` materialized-view pattern, same insert-only contract and
    * replay safety as the distinct-count rider.
    */
  def mirrorToParquetWithTopK(changes: Dataset[Change], targetDir: String,
                              checkpointDir: String,
                              agg: graft.operators.TopKAgg,
                              prepare: DataFrame => DataFrame = identity,
                              nBuckets: Int = 64,
                              deleteOp: String = "delete",
                              trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    insertArtifactRider(changes, targetDir, checkpointDir, prepare, nBuckets,
      deleteOp, trigger) { (batchId, inserts) =>
      agg.refreshBatch(batchId, inserts); ()
    }

  /** [[mirrorToParquet]] with a maintained WEIGHTED SAMPLE riding the
    * microbatches — the live training-data reservoir: each batch's
    * non-deleted upserts enter the A-ES draw, and
    * [[graft.operators.SampleAgg.read]] stays bit-equal to the one-shot
    * [[graft.operators.Sampling.weightedSample]] over everything fed so
    * far. `weight` is evaluated against the prepared insert rows and must
    * be the same rule the sample was created with (the draw keys of
    * different rules are not comparable — SampleAgg's documented
    * contract). Insert-only + replay-safe like the other riders.
    */
  def mirrorToParquetWithSample(changes: Dataset[Change], targetDir: String,
                                checkpointDir: String,
                                agg: graft.operators.SampleAgg,
                                weight: org.apache.spark.sql.Column,
                                prepare: DataFrame => DataFrame = identity,
                                nBuckets: Int = 64,
                                deleteOp: String = "delete",
                                trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    insertArtifactRider(changes, targetDir, checkpointDir, prepare, nBuckets,
      deleteOp, trigger) { (batchId, inserts) =>
      agg.refreshBatch(batchId, inserts, weight); ()
    }

  /** The shared chassis of the INSERT-ONLY maintained-artifact riders
    * (distinct sketches, quantile sketches, full-text postings): per
    * microbatch, collapse to newest-per-key upserts, hand the NON-DELETED
    * rows (after `prepare`) to `apply` with the batch id — each artifact's
    * own `refreshBatch`/`addBatch` high-water mark makes redelivery a
    * no-op — then merge the batch into the mirror. Deletes and updates
    * reach the MIRROR correctly; the artifact sees only inserts (its
    * documented contract).
    */
  private def insertArtifactRider(changes: Dataset[Change], targetDir: String,
                                  checkpointDir: String,
                                  prepare: DataFrame => DataFrame,
                                  nBuckets: Int, deleteOp: String,
                                  trigger: Trigger)(
                                  apply: (Long, DataFrame) => Unit): StreamingQuery = {
    val spark = changes.sparkSession
    changes.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Update())
      .trigger(trigger)
      .foreachBatch { (batch: Dataset[Change], batchId: Long) =>
        if (!batch.isEmpty) {
          val upserts = prepare(
            graft.operators.CdcOps.latestSnapshot(batch.toDF(), Seq("key"), "version")
              .withColumn("is_deleted", col("op") === deleteOp))
          apply(batchId, upserts.where(!col("is_deleted")))
          mergeBatch(spark, batch, targetDir, nBuckets, deleteOp, batchId)
        }
      }
      .start()
  }

  /** [[mirrorToParquet]] with a maintained full-text index riding the same
    * microbatches — the third maintained artifact the stream can carry
    * (exact aggregate, distinct sketches, searchable index): the
    * PeerDB→ClickHouse premise of a continuously searchable replica. Each
    * foreachBatch appends the batch's NON-DELETED upserts as one postings
    * generation before merging the batch into the mirror.
    *
    * Append-only contract (the index's batches-partition-the-corpus
    * assumption): deletes are skipped and an UPDATED doc would double its
    * postings — feed insert-only streams, or rebuild via
    * [[graft.operators.TextIndex.create]] on update-carrying mirrors.
    * At-least-once safe via [[graft.operators.TextIndex.addBatch]]'s
    * batch-id high-water mark.
    */
  def mirrorToParquetWithText(changes: Dataset[Change], targetDir: String,
                              checkpointDir: String,
                              idx: graft.operators.TextIndex,
                              prepare: DataFrame => DataFrame = identity,
                              textCol: String = "payload",
                              nBuckets: Int = 64,
                              deleteOp: String = "delete",
                              trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    insertArtifactRider(changes, targetDir, checkpointDir, prepare, nBuckets,
      deleteOp, trigger) { (batchId, inserts) =>
      idx.addBatch(batchId, inserts, "key", textCol); ()
    }

  /** [[mirrorToParquet]] with a maintained PERSISTED VECTOR INDEX riding
    * the microbatches — the continuously-searchable-embeddings half of the
    * mirror story (the vector twin of [[mirrorToParquetWithText]], same
    * insert-only contract and replay safety). `vectorize` turns each
    * upserted row into its embedding row (`key` + `vecCol`) — typically a
    * model-inference seam; keep it deterministic so redelivered batches
    * embed identically.
    */
  def mirrorToParquetWithVectors(changes: Dataset[Change], targetDir: String,
                                 checkpointDir: String,
                                 idx: graft.operators.VectorIndexWriter,
                                 vectorize: DataFrame => DataFrame,
                                 vecCol: String = "embedding",
                                 nBuckets: Int = 64,
                                 deleteOp: String = "delete",
                                 trigger: Trigger = Trigger.AvailableNow(),
                                 compactEvery: Int = 0): StreamingQuery =
    insertArtifactRider(changes, targetDir, checkpointDir, vectorize, nBuckets,
      deleteOp, trigger) { (batchId, inserts) =>
      idx.addBatch(batchId, inserts, "key", vecCol)
      // periodic compact-with-grace riding the stream: every appended batch
      // is its own on-disk generation, so an uncompacted long-running
      // stream fragments each probed list into thousands of files. The
      // compact is SAFE mid-stream — superseded generations stay readable
      // for one full cycle (the family's reader-grace contract) and a
      // crash between add and compact just compacts next batch. 0 = never
      // (the batch/off-peak caller owns compaction cadence instead).
      if (compactEvery > 0 && idx.liveGenerations > compactEvery)
        idx.compact()
    }

  /** One typed microbatch upsert — also usable directly for backfills. */
  def mergeBatch(spark: SparkSession, batch: Dataset[Change], targetDir: String,
                 nBuckets: Int, deleteOp: String, batchId: Long): Unit = {
    if (batch.isEmpty) return
    upsertBatch(spark,
      batch.toDF()
        .withColumn("is_deleted", col("op") === deleteOp)
        .withColumn("_batch_id", lit(batchId)),
      Seq("key"), "version", targetDir, nBuckets)
  }

  /** Generic upsert of one batch DataFrame into the bucketed mirror,
    * newest `versionCol` per `keys` winning. Replay-idempotent (merging the
    * same batch twice converges to the same mirror) and schema-evolving,
    * PeerDB-style: a column added on the source appears in the batch but
    * not the mirror (old rows read null); a column dropped upstream
    * survives in the mirror (new rows read null). `unionByName` with
    * allowMissingColumns covers both directions.
    *
    * Reads the manifest-committed mirror and commits through
    * [[commitBuckets]], so a concurrent FINAL read observes exactly the
    * previous or the new sync — never a mix of buckets.
    *
    * `bucketCols` (default: the keys) lets a mirror bucket by a DIFFERENT
    * column than it dedups by — the secondary-index layout
    * [[graft.operators.MaterializedJoin]] uses to co-locate A's
    * foreign-key copy with B. Caveat owned by the caller: when a row's
    * bucket column CHANGES value, the old bucket keeps a stale lower-
    * version copy (merges are bucket-local) — readers must version-verify
    * candidates against the primary mirror.
    */
  def upsertBatch(spark: SparkSession, batchDf: DataFrame, keys: Seq[String],
                  versionCol: String, targetDir: String, nBuckets: Int,
                  bucketCols: Seq[String] = Nil): Unit = {
    // materialize the batch ONCE: the touched-bucket collect, the merge,
    // and the append below all re-evaluate it, and a non-deterministic
    // source (a live JDBC tail handed in directly) could otherwise write
    // rows into buckets absent from `touched` — rows the manifest never
    // adopts, i.e. silently lost. Persisting the batch (delta-sized) is
    // far cheaper than the old whole-merged-bucket materialization.
    val pinned = batchDf
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try upsertPinnedMulti(spark, pinned, keys, versionCol,
      Seq(UpsertTarget(targetDir, nBuckets, bucketCols)))
    finally pinned.unpersist(false)
  }

  /** One layout destination of a multi-target upsert: `bucketCols`
    * empty = bucket by the dedup keys (the primary-mirror layout).
    */
  final case class UpsertTarget(dir: String, nBuckets: Int,
                                bucketCols: Seq[String] = Nil)

  /** Upsert ONE already-persisted batch into SEVERAL bucketed-mirror
    * layouts — the secondary-index shape of
    * [[graft.operators.MaterializedJoin]], where ΔA lands both in the
    * primary (bucketed by key) and in the join index (bucketed by fk).
    * The delta is scanned from its cached blocks once per layout instead
    * of re-materialized, and the per-target merge+commit jobs run
    * CONCURRENTLY (distinct dirs ⇒ independent manifests ⇒ no ordering
    * between them; Spark schedules jobs from multiple driver threads
    * fine) — the wall-clock is the slowest layout, not the sum.
    *
    * Caller owns the persistence of `pinned` (so a caller that reuses
    * the delta afterwards — e.g. for an affected-key set — doesn't see
    * it evicted mid-flight).
    */
  def upsertPinnedMulti(spark: SparkSession, pinned: DataFrame,
                        keys: Seq[String], versionCol: String,
                        targets: Seq[UpsertTarget]): Unit = {
    require(targets.map(_.dir).distinct.size == targets.size,
      s"upsertPinnedMulti: duplicate target dirs ${targets.map(_.dir)}")
    concurrently(spark, targets.map(t => () =>
      upsertOneTarget(spark, pinned, keys, versionCol, t)))
  }

  /** Run `tasks` concurrently (one task inline), each on a thread that
    * carries the calling thread's Spark local properties and active
    * session — a streaming query's job group and SQL execution cover every
    * job the tasks start. Returns when all are done; rethrows the first
    * failure.
    */
  private[graft] def concurrently(spark: SparkSession,
                                  tasks: Seq[() => Unit]): Unit =
    if (tasks.size == 1) tasks.head()
    else if (tasks.nonEmpty) {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(tasks.size)
      try tasks
        .map(t => org.apache.spark.sql.execution.SQLExecution.withThreadLocalCaptured(
          spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], pool)(t()))
        .map(f => scala.util.Try(f.get()))
        .foreach(_.failed.foreach {
          case e: java.util.concurrent.ExecutionException => throw e.getCause
          case e => throw e
        })
      finally pool.shutdown()
    }

  private[graft] def upsertOneTarget(spark: SparkSession, pinned: DataFrame,
                                     keys: Seq[String], versionCol: String,
                                     target: UpsertTarget): Unit = {
    import spark.implicits._
    val bCols = if (target.bucketCols.isEmpty) keys else target.bucketCols
    val withBucket = pinned
      .withColumn("bucket", pmod(hash(bCols.map(col): _*), lit(target.nBuckets)))
    val touched = withBucket.select("bucket").distinct().as[Int].collect()
    upsertOneTargetAt(spark, pinned, keys, versionCol, target, touched.toSeq)
  }

  /** [[upsertOneTarget]] with the batch's touched-bucket set already
    * collected — the driver-latency fusion seam: a caller maintaining
    * several layouts ([[graft.operators.MaterializedJoin]]) computes every
    * target's set in ONE job over the pinned delta instead of one job per
    * target, then the merge+commit writes are the only Spark work left
    * per target. Caller contract: `touched` is exactly the delta's bucket
    * set under this target's bucketing (a superset would vacuum-replace
    * untouched buckets with their own content — wasteful but correct; a
    * SUBSET would lose rows, see [[mergeCommitTouched]]).
    */
  private[graft] def upsertOneTargetAt(spark: SparkSession, pinned: DataFrame,
                                       keys: Seq[String], versionCol: String,
                                       target: UpsertTarget,
                                       touched: Seq[Int]): Unit = {
    if (touched.isEmpty) return // empty batch: not a sync, commit nothing
    val bCols = if (target.bucketCols.isEmpty) keys else target.bucketCols
    val withBucket = pinned
      .withColumn("bucket", pmod(hash(bCols.map(col): _*), lit(target.nBuckets)))
    mergeCommitTouched(spark, withBucket, keys, versionCol, target.dir,
      touched)
  }

  /** Merge `withBucket` (batch rows already carrying their `bucket` id)
    * into the committed content of exactly the `touched` buckets and
    * commit. Caller contract: every row's bucket MUST be in `touched` —
    * a row outside it would be appended to an unadopted bucket dir and
    * silently lost ([[upsertOneTarget]] collects the set from the batch
    * itself; [[graft.operators.MaterializedJoin]] derives it from the
    * affected-key set it already holds, skipping the extra collect job
    * and the double evaluation of an expensive batch plan).
    */
  private[graft] def mergeCommitTouched(spark: SparkSession,
                                        withBucket: DataFrame,
                                        keys: Seq[String], versionCol: String,
                                        targetDir: String,
                                        touched: Seq[Int],
                                        newWins: Boolean = false,
                                        newKeys: Option[DataFrame] = None)
      : Unit = {
    if (touched.isEmpty) return
    // No visible data files = first batch (see hasVisibleParquet). Any
    // other read failure (transient IO, permissions, corrupt file) must
    // propagate: swallowing it here would replace the touched buckets
    // with batch-only rows and silently drop every previously mirrored
    // row in them.
    val existing =
      if (!hasVisibleParquet(spark, targetDir)) None
      else Some(graft.sources.SyncManifest.readCommitted(spark, targetDir)
        .where(col("bucket").isin(touched: _*)))
    // newWins: caller guarantees the batch carries at most one row per
    // key at a version ≥ every existing same-key row (the strictly-
    // increasing batch-version contract of MaterializedJoin's view) — the
    // merge is then an anti-join replace (broadcast-sized batch keys, no
    // sort) instead of a newest-per-key window over the unioned
    // generations. Replaying the latest batch re-lands identical rows;
    // out-of-order replay is outside the contract. `newKeys` (must equal
    // withBucket's key set exactly) lets a caller holding the batch's key
    // frame CACHED supply it as the anti-join build side — otherwise the
    // whole batch plan would evaluate twice in this one commit (once
    // projected to keys for the build, once streamed into the union).
    val merged = existing match {
      case Some(ex) if newWins =>
        ex.join(broadcast(newKeys.getOrElse(
            withBucket.select(keys.map(col): _*))), keys, "left_anti")
          .unionByName(withBucket, allowMissingColumns = true)
      case _ =>
        val unioned = existing
          .map(withBucket.unionByName(_, allowMissingColumns = true))
          .getOrElse(withBucket)
        graft.operators.CdcOps.latestSnapshot(unioned, keys, versionCol)
    }
    // cluster the write by bucket: without this, every one of the
    // shuffle partitions opens a file in every touched bucket dir —
    // partitions × buckets small files per sync, which compounds into
    // listing/read cost for every later batch. One shuffle keyed by the
    // bucket id yields one file per touched bucket per sync.
    commitBuckets(spark, merged.repartition(col("bucket")), targetDir,
      touched)
  }

  /** True when `dir` holds at least one parquet data file that
    * `spark.read.parquet` would actually see. Only a mirror with *no data
    * files* means "first batch / nothing mirrored yet" — a missing dir, one
    * pre-created empty, or one left behind by a failed first write (no
    * parquet footers, which would make the read throw on every retry and
    * wedge the caller). A part file under a hidden DIRECTORY
    * (`_temporary/...` debris) is invisible to the reader too — every path
    * component between `dir` and the file must be visible, not just the
    * leaf, or the no-data detection wedges on it.
    */
  private[graft] def hasVisibleParquet(spark: SparkSession, dir: String): Boolean = {
    val target = new org.apache.hadoop.fs.Path(dir)
    val fsys = fs(spark, dir)
    if (!fsys.exists(target)) return false
    // hidden-PRUNING lazy walk, not fs.listFiles(recursive): the probe may
    // run concurrently with another thread's in-flight write to this dir
    // (MaterializedJoin overlaps its mirror commits with the view round),
    // and the eager recursive lister stats every `_temporary` attempt file
    // it meets — files that vanish mid-churn crash it (local-FS permission
    // stat). Pruning hidden directories never descends into `_temporary`
    // at all, and a file vanishing between readdir and our check simply
    // doesn't count — it was never committed.
    def walk(p: org.apache.hadoop.fs.Path): Boolean = {
      val entries =
        try fsys.listStatus(p)
        catch { case _: java.io.FileNotFoundException => return false }
      entries.exists { st =>
        val n = st.getPath.getName
        !n.startsWith("_") && !n.startsWith(".") &&
          (if (st.isDirectory) walk(st.getPath) else n.endsWith(".parquet"))
      }
    }
    walk(target)
  }

  /** Replace the ENTIRE mirror content with `df` (a snapshot / full
    * re-load), reader-atomically where possible: over a live mirror this is
    * one [[commitBuckets]] touching the union of the new config's bucket
    * range and every bucket the on-disk layout actually occupies — so a
    * re-load under a smaller (or stale) bucket count still retires the old
    * wide layout instead of leaving its high buckets live. Only the very
    * first load of an empty directory uses a plain overwrite bootstrap.
    */
  def replaceAll(spark: SparkSession, df: DataFrame, targetDir: String,
                 nBuckets: Int): Unit = {
    import graft.sources.SyncManifest
    if (hasVisibleParquet(spark, targetDir)) {
      val touched = (0 until nBuckets).toSet ++
        SyncManifest.liveBuckets(spark, targetDir)
      commitBuckets(spark, df, targetDir, touched.toSeq.sorted)
    } else {
      df.write.mode("overwrite").partitionBy("bucket").parquet(targetDir)
      SyncManifest.commitFull(spark, targetDir, Some(readSchemaOf(df)))
    }
  }

  /** Commit `df` as the new content of the `touched` buckets under
    * `targetDir`: APPEND fresh part files, then atomically swap the sync
    * manifest ([[graft.sources.SyncManifest.commitAfterAppend]]). Because
    * nothing is overwritten in place, `df`'s plan may freely READ the very
    * bucket contents it replaces (a merge or in-place update of the mirror)
    * — the files it reads are the committed generation, which the append
    * never touches and the vacuum retains until the NEXT commit. This
    * replaced the old dynamic-partition-overwrite (which committed per
    * partition directory, letting a racing FINAL read mix old and new
    * buckets, and forced a full materialization of `df` before the write).
    */
  def commitBuckets(spark: SparkSession, df: DataFrame, targetDir: String,
                    touched: Seq[Int]): Unit = {
    import graft.sources.SyncManifest
    if (touched.isEmpty) return // nothing replaced: keep the reader grace intact
    // adopting a manifest-less mirror: its current files are the baseline
    // (must be listed BEFORE the append mixes in the new generation)
    val legacyBaseline =
      if (SyncManifest.read(spark, targetDir).isEmpty)
        SyncManifest.listVisible(spark, targetDir)
      else Seq.empty[String]
    val before = SyncManifest.listVisible(spark, targetDir, Some(touched.toSet)).toSet
    df.write.mode("append").partitionBy("bucket").parquet(targetDir)
    val newFiles =
      SyncManifest.listVisible(spark, targetDir, Some(touched.toSet)).toSet -- before
    SyncManifest.commitAfterAppend(spark, targetDir, touched.toSet, newFiles,
      legacyBaseline, Some(readSchemaOf(df)))
  }

  /** The schema a manifest-pinned read of `df`'s written content returns:
    * data columns in frame order, the `bucket` partition column LAST (the
    * order parquet inference would produce) — stored in the manifest so
    * readCommitted can skip footer inference.
    */
  private def readSchemaOf(df: DataFrame): org.apache.spark.sql.types.StructType = {
    val (data, bucket) = df.schema.fields.partition(_.name != "bucket")
    org.apache.spark.sql.types.StructType(data ++ bucket)
  }

  private def fs(spark: SparkSession, path: String) =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
}
