package graft.sources

import graft.operators.CdcOps
import graft.streaming.CdcStream
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Per-table mirror configuration — the engine-side analog of one entry in
  * the reference's mirror config (peerdb_config.yaml names a source table,
  * its target, and implicitly its key/ordering columns; see also
  * quickstart_prepare_peers.sh which creates customers/products/orders with
  * serial keys).
  *
  * @param table      logical table name (also the mirror subdirectory)
  * @param keys       primary-key columns
  * @param versionCol monotonically increasing change-sequence column (LSN /
  *                   serial / updated-at-epoch analog); the incremental tail
  *                   polls `versionCol > watermark`
  * @param nBuckets   hash-bucket count of the parquet mirror layout
  * @param excludeCols columns the mirror must NOT carry (PeerDB's per-table
  *                   `exclude` mapping — PII/bulk columns kept out of the
  *                   replica). Dropped from every snapshot/poll delta
  *                   before stamping, so excluded data never lands on
  *                   disk. Keys and the version column cannot be excluded
  *                   (the capture contract needs them) — rejected loudly.
  *                   Matched case-insensitively (JDBC dialects fold
  *                   identifier case).
  */
case class TableConfig(table: String, keys: Seq[String], versionCol: String,
                       nBuckets: Int = 64, excludeCols: Seq[String] = Nil) {
  require(!excludeCols.exists(e => keys.exists(_.equalsIgnoreCase(e))),
    s"cannot exclude key column(s): ${excludeCols.mkString(",")}")
  require(!excludeCols.exists(_.equalsIgnoreCase(versionCol)),
    s"cannot exclude the version column $versionCol")

  /** The source frame minus the excluded columns (no-op when none). */
  def applyExclusions(df: DataFrame): DataFrame =
    if (excludeCols.isEmpty) df
    else df.drop(df.columns.filter(c =>
      excludeCols.exists(_.equalsIgnoreCase(c))).toIndexedSeq: _*)
}

/** Polling incremental capture: the watermark/sequence-column change tail
  * that the reference's flow-worker runs continuously against the WAL
  * (docker-compose.yml `peerdb-flow-worker`; peerdb_config.yaml per-table
  * mirrors). Without a database in the loop the same contract is: a source
  * relation with a monotonically increasing sequence column, polled with
  * `seq > watermark`, each delta batch stamped with the four `_peerdb_*`
  * metadata columns and merged into the bucketed parquet mirror.
  *
  * Scale notes (100 TB): each poll reads ONLY the delta — the watermark
  * predicate pushes into the scan (parquet min/max pruning skips untouched
  * files; the JDBC variant pushes a WHERE clause to the database). The merge
  * rewrites only the hash buckets the delta touches
  * ([[CdcStream.upsertBatch]], append + atomic [[SyncManifest]] commit so
  * concurrent FINAL reads see whole syncs). Driver state is
  * one (watermark, batchId) pair per table, persisted next to the mirror so
  * capture resumes across restarts exactly where it stopped — replaying a
  * poll is idempotent because the merge keeps max-version per key.
  */
object Incremental {

  /** Durable per-mirror capture state. `watermark` = highest `versionCol`
    * already merged; `batchId` = last `_peerdb_batch_id` written;
    * `syncedAtMs` = wall clock of the last successful sync; `nBuckets` =
    * the bucket count the mirror is ACTUALLY laid out in (−1 in states
    * written before this field existed). The layout lives on disk, so its
    * bucket count must too — a restart with a stale in-memory config would
    * otherwise merge against the wrong bucket space and split keys across
    * buckets; [[poll]]/[[reconcileDeletes]] refuse a mismatched config.
    */
  case class SyncState(watermark: Long, batchId: Long, syncedAtMs: Long,
                       nBuckets: Int = -1)

  /** Same-layout guard: the config driving a sync must agree with the
    * bucket count persisted beside the mirror (see [[rebucket]]). For a
    * state written before the count was persisted (−1), probe the layout
    * itself: a CURRENT (non-retired) bucket id at or above the config's
    * count proves the config is wrong. The probe is best-effort — a wrong
    * count whose occupied ids all happen to fall below it is undetectable
    * from the layout in either direction — so the first post-upgrade sync
    * immediately persists the config's count ([[adoptBuckets]]) and the
    * exact guard takes over from there.
    */
  private def checkBuckets(spark: SparkSession, st: SyncState, cfg: TableConfig,
                           mirrorDir: String): Unit = {
    if (st.nBuckets >= 0 && st.nBuckets != cfg.nBuckets)
      throw new IllegalStateException(
        s"mirror $mirrorDir is bucketed into ${st.nBuckets} buckets but the " +
          s"config says ${cfg.nBuckets} — use the TableConfig returned by " +
          "rebucket(), or rebucket() again")
    if (st.nBuckets < 0) {
      val maxLive = SyncManifest.liveBuckets(spark, mirrorDir, includeRetired = false)
        .foldLeft(-1)(math.max)
      if (maxLive >= cfg.nBuckets)
        throw new IllegalStateException(
          s"mirror $mirrorDir occupies bucket ids up to $maxLive but the " +
            s"config says ${cfg.nBuckets} buckets — fix the config, or " +
            "re-snapshot to redefine the layout")
    }
  }

  /** Persist the adopted bucket count into a legacy state RIGHT AWAY (not
    * only on the next data-bearing sync): an idle table would otherwise
    * re-run the layout probe's listing on every poll forever.
    */
  private def adoptBuckets(spark: SparkSession, st: SyncState, cfg: TableConfig,
                           mirrorDir: String): SyncState =
    if (st.nBuckets >= 0) st
    else {
      val adopted = st.copy(nBuckets = cfg.nBuckets)
      writeState(spark, mirrorDir, adopted)
      adopted
    }

  /** One poll's outcome. */
  case class PollResult(state: SyncState, rowsSynced: Long)

  private val SyncStateFile = "_graft_sync_state.json"

  /** Read the persisted capture state, if any ([[StateFile.read]]). A
    * complete tmp without a main file is adopted rather than reporting "no
    * state", which would route the caller to a mode(overwrite) re-snapshot
    * discarding mirror history.
    */
  def readState(spark: SparkSession, mirrorDir: String): Option[SyncState] =
    StateFile.read(spark, new Path(mirrorDir, SyncStateFile)) { bytes =>
      val txt = new String(bytes, "UTF-8")
      def field(k: String): Option[Long] =
        """"%s"\s*:\s*(-?\d+)""".format(k).r.findFirstMatchIn(txt).map(_.group(1).toLong)
      for (w <- field("watermark"); b <- field("batchId"); s <- field("syncedAtMs"))
        yield SyncState(w, b, s, field("nBuckets").map(_.toInt).getOrElse(-1))
    }

  // a crash leaves the old state (re-poll is idempotent) or a tmp that
  // readState ignores while the main file exists. Production targets would
  // commit through a transactional table format instead.
  private[graft] def writeState(spark: SparkSession, mirrorDir: String,
                                st: SyncState): Unit =
    StateFile.write(spark, new Path(mirrorDir, SyncStateFile),
      (s"""{"watermark":${st.watermark},"batchId":${st.batchId},""" +
        s""""syncedAtMs":${st.syncedAtMs},"nBuckets":${st.nBuckets}}""")
        .getBytes("UTF-8"))

  /** Initial full load (PeerDB's snapshot phase): stamp metadata, write the
    * bucketed mirror, persist the watermark = max(versionCol) of the
    * snapshot so the first poll only tails changes after it.
    *
    * A RE-snapshot over a mirror that already holds committed data (the
    * re-sync path after drift or a forced wipe) commits through the same
    * append + manifest swap as a poll, with every bucket touched: readers
    * pinned to the old generation keep their consistent view and flip to
    * the fresh snapshot atomically at the manifest commit — the reference
    * re-syncs a mirror the same way, swapping the target only when the new
    * copy is complete. Only the very first load of an empty directory uses
    * a plain overwrite bootstrap.
    */
  def snapshot(rawSource: DataFrame, cfg: TableConfig, mirrorDir: String,
               isDelete: Column = lit(false),
               syncedAt: Column = current_timestamp(),
               watermarkOverride: Option[Long] = None): SyncState = {
    val source = cfg.applyExclusions(rawSource)
    val spark = source.sparkSession
    // an override LOWER than the loaded data's max (the parallel-JDBC
    // path's pre-read probe) is deliberate: the first poll then re-reads
    // anything that moved during the load — heal-forward consistency
    val wm = watermarkOverride.getOrElse(
      source.agg(max(col(cfg.versionCol).cast("long"))).collect()(0) match {
        case r if r.isNullAt(0) => Long.MinValue // empty source
        case r => r.getLong(0)
      })
    val stamped =
      CdcOps.withMirrorMeta(source, cfg.keys, cfg.versionCol, isDelete, lit(0L), syncedAt)
        .withColumn("bucket", pmod(hash(cfg.keys.map(col): _*), lit(cfg.nBuckets)))
    // a live mirror is replaced reader-atomically, touching the union of
    // the config's bucket range and the layout's actual buckets — correct
    // even under a stale config, since snapshot() REDEFINES the layout (the
    // state it writes below records the count it used). Manifest/state are
    // two atomic swaps in that order: a crash between them leaves the
    // committed snapshot visible and the re-run re-snapshots.
    CdcStream.replaceAll(spark, stamped, mirrorDir, cfg.nBuckets)
    val st = SyncState(wm, 0L, System.currentTimeMillis(), cfg.nBuckets)
    writeState(spark, mirrorDir, st)
    st
  }

  /** Adopt a mirror built OUTSIDE the polling capture into the polled
    * lifecycle, so [[poll]], [[reconcileDeletes]], and [[rebucket]] run on
    * it. Two layouts qualify:
    *
    *  - a [[graft.streaming.CdcStream.mirrorToParquet]] mirror (short-name
    *    meta: `is_deleted`/`_batch_id`, version under `cfg.versionCol`) —
    *    converted ONCE to the `_peerdb_*` convention, reader-atomically
    *    (the same append + manifest swap as a re-snapshot); stop the
    *    stream first and continue with [[poll]] afterwards — this is the
    *    migration from the streaming bootstrap to the polled lifecycle,
    *    and it is one-way;
    *  - a [[Mirror.fullLoad]] mirror (already `_peerdb_*`-stamped, just
    *    never given a capture state) — no rewrite, only the state is
    *    synthesized.
    *
    * The synthesized state resumes the tail exactly where the mirror's
    * content ends: watermark = max(`_peerdb_version`), batchId =
    * max(`_peerdb_batch_id`). Idempotent across a crash between the
    * rewrite and the state write (the re-run sees the converted layout and
    * only writes the state). Closes the gap where a streamed mirror had no
    * hard-DELETE reconciliation story at all.
    */
  def adoptMirror(spark: SparkSession, mirrorDir: String, cfg: TableConfig,
                  syncedAt: Column = current_timestamp()): SyncState = {
    if (readState(spark, mirrorDir).isDefined)
      throw new IllegalStateException(
        s"$mirrorDir already has capture state — it is a polled mirror; " +
          "adoptMirror is for CdcStream.mirrorToParquet / Mirror.fullLoad targets")
    if (!CdcStream.hasVisibleParquet(spark, mirrorDir))
      throw new IllegalStateException(
        s"nothing to adopt under $mirrorDir — run snapshot() for an initial load")
    // the config must agree with the on-disk bucket layout (same probe as
    // the legacy-state path: an occupied CURRENT bucket id at or above the
    // config's count proves the config wrong)
    checkBuckets(spark, SyncState(0L, 0L, 0L, nBuckets = -1), cfg, mirrorDir)
    val m = SyncManifest.readCommitted(spark, mirrorDir)
    val alreadyPeerdb = m.columns.contains("_peerdb_version")
    val converted =
      if (alreadyPeerdb) m
      else {
        require(m.columns.contains("is_deleted") && m.columns.contains("_batch_id")
            && m.columns.contains(cfg.versionCol),
          s"unrecognized mirror layout under $mirrorDir " +
            s"(${m.columns.mkString(",")}) — adoptMirror reads the " +
            "CdcStream.mirrorToParquet or Mirror.fullLoad conventions")
        m.withColumn("_peerdb_version", col(cfg.versionCol).cast("long"))
          .withColumn("_peerdb_is_deleted", col("is_deleted").cast("int"))
          .withColumn("_peerdb_batch_id", col("_batch_id").cast("long"))
          .withColumn("_peerdb_synced_at", syncedAt.cast("timestamp"))
          .drop("is_deleted", "_batch_id")
      }
    // bounded collect: a 1-row aggregate
    val head = converted
      .agg(max(col("_peerdb_version").cast("long")),
        max(col("_peerdb_batch_id").cast("long"))).collect()(0)
    val wm = if (head.isNullAt(0)) Long.MinValue else head.getLong(0)
    val batchId = if (head.isNullAt(1)) 0L else head.getLong(1)
    if (!alreadyPeerdb) CdcStream.replaceAll(spark, converted, mirrorDir, cfg.nBuckets)
    val st = SyncState(wm, batchId, System.currentTimeMillis(), cfg.nBuckets)
    writeState(spark, mirrorDir, st)
    st
  }

  /** One incremental poll: merge every source row with `versionCol` in
    * `(watermark, fence]` into the mirror — the fence is max(versionCol)
    * read in its OWN pass strictly before the capture read (see the inline
    * note: an unfenced single-scan watermark loses concurrent updates) —
    * then advance the watermark to the fence. A poll with no new rows at
    * all leaves the mirror and watermark untouched; a poll whose gap rows
    * all vanished before the capture read (hard-deleted mid-poll) advances
    * the watermark without a batch.
    */
  def poll(rawSource: DataFrame, cfg: TableConfig, mirrorDir: String,
           isDelete: Column = lit(false),
           syncedAt: Column = current_timestamp()): PollResult = {
    val source = cfg.applyExclusions(rawSource)
    val spark = source.sparkSession
    val st0 = readState(spark, mirrorDir).getOrElse(
      throw new IllegalStateException(
        s"no capture state under $mirrorDir — run snapshot() first (or " +
        "adoptMirror() for a CdcStream.mirrorToParquet / Mirror.fullLoad target)"))
    checkBuckets(spark, st0, cfg, mirrorDir)
    val st = adoptBuckets(spark, st0, cfg, mirrorDir)
    // FENCED TWO-PASS POLL (r18 — fixes a lost-update race the sustained
    // stress harness caught at ~1600 committed ops/s): the old poll took
    // the next watermark as max(version) OF THE SAME SCAN that fed the
    // merge. Under concurrent committers a READ_COMMITTED scan is not a
    // snapshot — it can observe a late-committed HIGH version (physically
    // ahead of the scan position) while missing an earlier-positioned
    // row's update at a LOWER version (its page was already read with the
    // old image). The watermark then advances past an uncaptured version
    // and that update is lost FOREVER (measured: 527 of 59 868 rows stale
    // after a 75k-op run, counts and lag both green). The fence restores
    // the guarantee: pass 1 reads ONLY max(version) over the tail; pass 2
    // is a FRESH read bounded to `(watermark, fence]`. Every version
    // ≤ fence was committed before pass 1 observed the fence (versions are
    // monotone in COMMIT order — the polling contract; a multi-writer
    // source whose version assignment can commit out of order needs the
    // LSN-total-ordered frame path instead), so the later pass-2 statement
    // sees all of them. Both passes are delta-bounded (the version
    // predicate pushes down), so poll IO stays delta-proportional. A
    // fence with no surviving rows (everything in the gap was deleted
    // before pass 2) still advances the watermark — the hard-delete sweep
    // owns those rows, and re-scanning the gap forever would be wasted IO.
    val vcol = col(cfg.versionCol).cast("long")
    val fenceRow = source.where(vcol > lit(st.watermark))
      .agg(max(vcol)).collect()(0)
    if (fenceRow.isNullAt(0)) return PollResult(st, 0L)
    val fence = fenceRow.getLong(0)
    // the delta is cached across the poll so the emptiness probe and the
    // merge read ONE evaluation of the source. upsertBatch layers its own
    // bucket-stamped cache on top — a second, delta-sized copy scoped to
    // the merge — because its touched/append agreement must hold for
    // every caller, not just poll
    val delta = source
      .where(vcol > lit(st.watermark) && vcol <= lit(fence))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val n = delta.count()
      if (n == 0L) {
        val next = SyncState(fence, st.batchId, System.currentTimeMillis(),
          cfg.nBuckets)
        writeState(spark, mirrorDir, next)
        return PollResult(next, 0L)
      }
      val batchId = st.batchId + 1
      val stamped = CdcOps.withMirrorMeta(delta, cfg.keys, cfg.versionCol,
        isDelete, lit(batchId), syncedAt)
      CdcStream.upsertBatch(spark, stamped, cfg.keys, "_peerdb_version",
        mirrorDir, cfg.nBuckets)
      val next = SyncState(fence, batchId, System.currentTimeMillis(),
        cfg.nBuckets)
      writeState(spark, mirrorDir, next)
      PollResult(next, n)
    } finally delta.unpersist(false)
  }

  /** Sweep-provenance tombstone marker. A poll-landed logical delete writes
    * `_peerdb_is_deleted = 1` (the caller's delete event or flag column);
    * the reconciliation sweep flags with 2, so resurrection can tell "this
    * sweep tombstoned it" from "the source logically deleted it" and never
    * un-deletes the latter. Every reader's live test is `=== 0`, so both
    * values hide identically, and the FINAL merge's (version, flag) tie
    * ordering still prefers any tombstone.
    */
  val SweepFlag = 2

  /** Key-reconciliation sweep: capture hard DELETEs that the `versionCol`
    * tail can never see (a physically deleted row emits no change row, so
    * `seq > watermark` misses it and the mirror keeps it forever, with
    * [[lagReport]] showing phantom negative lag). The reference replicates
    * DELETEs as first-class CDC events — `_peerdb_is_deleted` +
    * ReplacingMergeTree exist for exactly this (SURVEY §1;
    * quickstart_prepare_peers.sh:24-78 tables take deletes in the stress
    * tooling); the streaming path here handles op='delete' natively, and
    * this sweep is the polling path's equivalent.
    *
    * Mechanics: live mirror keys anti-joined against current source keys =
    * the hard-deleted set; their mirror rows are flagged
    * `_peerdb_is_deleted = ` [[SweepFlag]] IN PLACE (only the touched
    * buckets are rewritten), with `_peerdb_version` left unchanged. The
    * distinct flag value records TOMBSTONE PROVENANCE: a logical delete
    * landed by the poll carries 1, a sweep tombstone carries 2, and every
    * reader's live test is `=== 0` so both hide identically. Leaving the version
    * alone is what makes the sweep race-safe under a monotonic sequence
    * column: a key deleted and then re-inserted at the source gets a fresh
    * `seq` above every previously assigned one, so the next poll's row
    * outranks the flagged tombstone in the merge — no fabricated version
    * can ever collide with a real one. The sweep is also self-healing: any
    * anomaly (e.g. a replayed pre-delete batch resurrecting a key after a
    * torn state write) is re-flagged on the next sweep, because the key is
    * still absent at the source.
    *
    * Scale notes (100 TB): the source side is a keys-only projection
    * (column-pruned scan / SELECT of the key columns over JDBC); the mirror
    * side collapses to one (key, min is_deleted) row per key in a single
    * map-side-combined shuffle before the joins; the bucket rewrite touches
    * only buckets containing changed keys. A sweep is heavier than a poll
    * (it must see every source key), so run it at a slower cadence — the
    * reference's stress tooling likewise validates counts out-of-band
    * rather than per-batch.
    *
    * == Wipe guard ==
    * The sweep trusts the source scan to be COMPLETE — a transient
    * empty/partial read (wrong view, truncated table, permissions returning
    * zero rows) would otherwise tombstone the whole mirror, and because
    * flagged rows keep their old `_peerdb_version` ≤ watermark, a recovered
    * source would never re-land them via the poll tail: a permanent wipe.
    * Two defenses: (a) the sweep REFUSES to flag more than
    * `maxDeleteFraction` of the live keys in one pass (pass 1.0 to force a
    * legitimate mass delete through — an empty source always trips the
    * default); (b) `resurrect` (on by default) un-flags keys tombstoned BY
    * A SWEEP ([[SweepFlag]] provenance — a key the source logically deleted
    * via a delete event or a flag column carries 1 and is NEVER a
    * resurrection candidate, even when its tombstone version equals the
    * still-present source row's seq, as it does under the flag-column
    * soft-delete pattern) that the source still holds AT THE SAME sequence
    * value the mirror last saw — a row that verifiably never changed since
    * it was flagged, which is exactly (and only) the bad-sweep signature.
    * So even a forced or historical bad sweep (made by THIS
    * format — tombstones written before the provenance marker existed are
    * indistinguishable from logical deletes and heal only via re-snapshot)
    * heals on the next sweep against a recovered source, with the restored
    * rows keeping their original versions, while a source row that changed
    * after the wipe has a fresh seq above the watermark and simply
    * re-lands through the poll tail — no resurrection needed.
    */
  def reconcileDeletes(source: DataFrame, cfg: TableConfig, mirrorDir: String,
                       syncedAt: Column = current_timestamp(),
                       maxDeleteFraction: Double = 0.5,
                       resurrect: Boolean = true): PollResult = {
    val spark = source.sparkSession
    val st0 = readState(spark, mirrorDir).getOrElse(
      throw new IllegalStateException(
        s"no capture state under $mirrorDir — run snapshot() first (or " +
        "adoptMirror() for a CdcStream.mirrorToParquet / Mirror.fullLoad target)"))
    checkBuckets(spark, st0, cfg, mirrorDir)
    val st = adoptBuckets(spark, st0, cfg, mirrorDir)
    // a mirror snapshotted from an empty source has state but no parquet
    // footers — nothing can be flagged, so the sweep is a no-op rather
    // than a schema-inference failure
    if (!CdcStream.hasVisibleParquet(spark, mirrorDir)) return PollResult(st, 0L)
    val mirror = SyncManifest.readCommitted(spark, mirrorDir)
    val keyCols = cfg.keys.map(col)
    val mem = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // one row per mirrored key — liveness (any row unflagged?) and current
    // version; consumed by both join sides — persist so the mirror scan
    // and aggregation run once
    val keyState = mirror.groupBy(keyCols: _*)
      .agg(min(col("_peerdb_is_deleted")).as("_graft_min_del"),
        max(col("_peerdb_version")).as("_graft_max_ver")).persist(mem)
    val src = source
      .select(keyCols :+ col(cfg.versionCol).cast("long").as("_graft_src_seq"): _*)
      .persist(mem)
    // gone: live keys the source no longer has (→ flag with SweepFlag);
    // back: SWEEP-tombstoned keys (provenance 2 — never a logical delete's
    // 1) the source still holds at the mirror's own version — unchanged
    // since the flag, the bad-sweep signature (→ un-flag, resurrection)
    val gone = keyState.where(col("_graft_min_del") === 0).select(keyCols: _*)
      .join(src.select(keyCols: _*), cfg.keys, "left_anti")
      .withColumn("_graft_flag", lit(SweepFlag))
    val back = keyState.where(col("_graft_min_del") === SweepFlag).as("m")
      .join(src.as("s"),
        cfg.keys.map(k => col(s"m.$k") === col(s"s.$k")).reduce(_ && _) &&
          col("m._graft_max_ver") === col("s._graft_src_seq"), "left_semi")
      .select(keyCols: _*)
      .withColumn("_graft_flag", lit(0))
    val changed = (if (resurrect) gone.unionByName(back) else gone).persist(mem)
    try {
      val counts = changed.agg(
        sum(when(col("_graft_flag") === SweepFlag, 1L).otherwise(0L)).as("gone"),
        sum(when(col("_graft_flag") === 0, 1L).otherwise(0L)).as("back")).collect()(0)
      val nGone = if (counts.isNullAt(0)) 0L else counts.getLong(0)
      val nBack = if (counts.isNullAt(1)) 0L else counts.getLong(1)
      if (nGone + nBack == 0L) return PollResult(st, 0L)
      if (nGone > 0L) {
        val nLive = keyState.where(col("_graft_min_del") === 0).count()
        if (nGone.toDouble > maxDeleteFraction * nLive)
          throw new IllegalStateException(
            s"reconcileDeletes refusing to tombstone $nGone of $nLive live keys " +
              f"(${nGone.toDouble / nLive}%.2f > maxDeleteFraction=$maxDeleteFraction%.2f) " +
              s"under $mirrorDir — transient empty/partial source read? " +
              "Pass maxDeleteFraction=1.0 to force a legitimate mass delete.")
      }
      val batchId = st.batchId + 1
      val touched = changed
        .select(pmod(hash(keyCols: _*), lit(cfg.nBuckets)).as("bucket"))
        .distinct().collect().map(_.getInt(0)).toSeq
      val flagged = mirror.where(col("bucket").isin(touched: _*))
        .join(changed, cfg.keys, "left")
        .withColumn("_peerdb_is_deleted",
          when(col("_graft_flag").isNotNull, col("_graft_flag"))
            .otherwise(col("_peerdb_is_deleted")))
        .withColumn("_peerdb_batch_id",
          when(col("_graft_flag").isNotNull, lit(batchId))
            .otherwise(col("_peerdb_batch_id")))
        .withColumn("_peerdb_synced_at",
          when(col("_graft_flag").isNotNull, syncedAt.cast("timestamp"))
            .otherwise(col("_peerdb_synced_at")))
        .select(mirror.columns.map(col): _*) // join put keys first; restore
      CdcStream.commitBuckets(spark, flagged, mirrorDir, touched)
      val next = SyncState(st.watermark, batchId, System.currentTimeMillis(),
        cfg.nBuckets)
      writeState(spark, mirrorDir, next)
      PollResult(next, nGone + nBack)
    } finally {
      changed.unpersist(false); src.unpersist(false); keyState.unpersist(false)
    }
  }

  /** Retention sweep — the ClickHouse `TTL` analog on the replicated
    * target (MergeTree `TTL <col> + INTERVAL n` physically removes expired
    * rows at merge time; on the reference's ReplacingMergeTree targets the
    * same clause GCs history). Physically drops every mirror row matching
    * `expired` — typical predicates: event-time age for data retention, or
    * tombstone GC via [[expireTombstones]] (tombstones otherwise accumulate
    * forever; past the retention window no replayed batch can outrank live
    * data, so they are safe to forget). A NULL predicate value counts as
    * not-expired.
    *
    * Mechanics: only buckets containing expired rows are rewritten (the
    * bucket-id collect is bounded by `nBuckets`), committed
    * reader-atomically like every sweep; the watermark is untouched — a key
    * whose expired rows had `seq <= watermark` is gone for good (that is
    * the point of TTL), while a later re-insert at the source carries a
    * fresh seq and re-lands through the poll tail. A replayed pre-expiry
    * batch can re-land expired rows; the next sweep re-expires them
    * (self-healing, like [[reconcileDeletes]]).
    *
    * == Wipe guard ==
    * Refuses to drop more than `maxExpireFraction` of the mirror's rows in
    * one pass — a mis-specified horizon (wrong time zone, seconds-vs-millis)
    * would otherwise empty the mirror. Pass 1.0 to force a legitimate mass
    * expiry through.
    */
  def expire(spark: SparkSession, cfg: TableConfig, mirrorDir: String,
             expired: Column, maxExpireFraction: Double = 0.5): PollResult = {
    val st0 = readState(spark, mirrorDir).getOrElse(
      throw new IllegalStateException(
        s"no capture state under $mirrorDir — run snapshot() first (or " +
        "adoptMirror() for a CdcStream.mirrorToParquet / Mirror.fullLoad target)"))
    checkBuckets(spark, st0, cfg, mirrorDir)
    val st = adoptBuckets(spark, st0, cfg, mirrorDir)
    if (!CdcStream.hasVisibleParquet(spark, mirrorDir)) return PollResult(st, 0L)
    val mirror = SyncManifest.readCommitted(spark, mirrorDir)
    val mem = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val marked = mirror
      .withColumn("_graft_exp", coalesce(expired, lit(false))).persist(mem)
    try {
      val counts = marked.agg(
        sum(when(col("_graft_exp"), 1L).otherwise(0L)).as("exp"),
        count(lit(1)).as("all")).collect()(0)
      val nExp = if (counts.isNullAt(0)) 0L else counts.getLong(0)
      val nAll = counts.getLong(1)
      if (nExp == 0L) return PollResult(st, 0L)
      if (nExp.toDouble > maxExpireFraction * nAll)
        throw new IllegalStateException(
          s"expire refusing to drop $nExp of $nAll mirror rows " +
            f"(${nExp.toDouble / nAll}%.2f > maxExpireFraction=$maxExpireFraction%.2f) " +
            s"under $mirrorDir — mis-specified horizon? " +
            "Pass maxExpireFraction=1.0 to force a legitimate mass expiry.")
      val batchId = st.batchId + 1
      val touched = marked.where(col("_graft_exp"))
        .select(col("bucket")).distinct().collect().map(_.getInt(0)).toSeq
      val kept = marked
        .where(col("bucket").isin(touched: _*) && !col("_graft_exp"))
        .select(mirror.columns.map(col): _*)
      CdcStream.commitBuckets(spark, kept, mirrorDir, touched)
      val next = SyncState(st.watermark, batchId, System.currentTimeMillis(),
        cfg.nBuckets)
      writeState(spark, mirrorDir, next)
      PollResult(next, nExp)
    } finally marked.unpersist(false)
  }

  /** Tombstone GC: [[expire]] specialized to flagged rows whose sync stamp
    * predates `syncedBefore` — the retention clause that keeps a
    * soft-delete mirror from accumulating tombstones forever.
    */
  def expireTombstones(spark: SparkSession, cfg: TableConfig, mirrorDir: String,
                       syncedBefore: Column,
                       maxExpireFraction: Double = 0.5): PollResult =
    expire(spark, cfg, mirrorDir,
      col("_peerdb_is_deleted") =!= 0 &&
        col("_peerdb_synced_at") < syncedBefore.cast("timestamp"),
      maxExpireFraction)

  /** Re-bucket a live mirror to a new hash-bucket count, reader-atomically.
    * Bucket count is sized to data volume; a mirror that grows 100× needs
    * more buckets or every sync rewrites giant partitions (and one that
    * shrank wastes file handles on empty dirs). The rewrite reads the
    * committed generation, reassigns `bucket = hash(keys) mod newBuckets`,
    * and commits it as ONE manifest swap touching the union of the old and
    * new bucket id spaces — readers pinned before the swap keep the old
    * layout (grace generation), readers after see only the new; the
    * capture state (watermark/batch) is untouched, so polling continues
    * seamlessly under the returned config.
    *
    * Single-writer: run it from the same owner as snapshot/poll, not
    * concurrently with them.
    *
    * @return the table config to use from now on (`nBuckets = newBuckets`)
    */
  def rebucket(spark: SparkSession, cfg: TableConfig, mirrorDir: String,
               newBuckets: Int): TableConfig = {
    require(newBuckets > 0, s"bad newBuckets=$newBuckets")
    val st = readState(spark, mirrorDir).getOrElse(throw new IllegalStateException(
      s"no capture state under $mirrorDir — run snapshot() first (or " +
        "adoptMirror() for a CdcStream.mirrorToParquet / Mirror.fullLoad target)"))
    checkBuckets(spark, st, cfg, mirrorDir)
    if (CdcStream.hasVisibleParquet(spark, mirrorDir)) {
      val rows = SyncManifest.readCommitted(spark, mirrorDir)
        .drop("bucket")
        .withColumn("bucket", pmod(hash(cfg.keys.map(col): _*), lit(newBuckets)))
      CdcStream.commitBuckets(spark, rows, mirrorDir,
        0 until math.max(cfg.nBuckets, newBuckets))
    }
    // the layout's bucket count lives beside the mirror (same durability as
    // the watermark): a restart with a stale config is refused by
    // checkBuckets instead of silently splitting keys across bucket spaces
    writeState(spark, mirrorDir,
      SyncState(st.watermark, st.batchId, System.currentTimeMillis(), newBuckets))
    cfg.copy(nBuckets = newBuckets)
  }

  /** Replication-lag report — the monitor's per-table Lag row
    * (peerdb_psql_clickhouse_monitor.ps1:710 renders it, :743 computes
    * source−target, :744-754 grades it: 0 → SYNCED, |lag| ≤ 5 → NEAR_SYNC,
    * else LAG). One output row per call: source/target row counts, max
    * sequence on both sides, their deltas, the newest `_peerdb_synced_at`,
    * and the thresholded `sync_status` grade. Both sides collapse to a
    * single aggregate row before the join — two scans, no data-row shuffle,
    * any corpus size.
    *
    * @param nearSyncRows |lag_rows| at or under this (but nonzero) grades
    *                     NEAR_SYNC; the reference monitor uses 5
    */
  def lagReport(source: DataFrame, mirror: DataFrame, cfg: TableConfig,
                nearSyncRows: Long = 5L): DataFrame = {
    val src = source.agg(
      count(lit(1)).as("src_rows"),
      max(col(cfg.versionCol).cast("long")).as("src_max_seq"))
    val live = mirror.where(col("_peerdb_is_deleted") === 0)
    val dst = live.agg(
      count(lit(1)).as("dst_rows"),
      max(col("_peerdb_version")).as("dst_max_seq"),
      max(col("_peerdb_synced_at")).as("last_synced_at"))
    val lagRows = col("src_rows") - col("dst_rows")
    src.crossJoin(dst).select(
      lit(cfg.table).as("table_name"),
      col("src_rows"), col("dst_rows"),
      lagRows.as("lag_rows"),
      col("src_max_seq"), col("dst_max_seq"),
      (col("src_max_seq") - coalesce(col("dst_max_seq"), lit(Long.MinValue)))
        .as("lag_seq"),
      col("last_synced_at"),
      when(lagRows === 0L, "SYNCED")
        .when(abs(lagRows) <= nearSyncRows, "NEAR_SYNC")
        .otherwise("LAG").as("sync_status"))
  }

  /** Incremental JDBC tail: the poll's `seq > watermark` inlined as a WHERE
    * clause in the pushed-down subquery so the database streams only the
    * delta. The derived-table alias avoids a leading underscore and the
    * `AS` keyword — both non-portable (Derby rejects `_`-led identifiers,
    * Oracle rejects `AS` on table aliases). Exercised end-to-end against
    * embedded Derby in JdbcCaptureSpec.
    */
  def jdbcIncrement(spark: SparkSession, url: String, table: String,
                    seqCol: String, watermark: Long,
                    connectionProps: java.util.Properties = new java.util.Properties()): DataFrame =
    spark.read.jdbc(url,
      s"(SELECT * FROM $table WHERE $seqCol > $watermark) graft_incr",
      connectionProps)

  /** One-row probe backing [[jdbcSnapshotPartitioned]]: key-range bounds of
    * `partCol` and the capture watermark, all computed INSIDE the database
    * (one aggregate query) BEFORE any chunk reads — freezing the watermark
    * first is what makes the parallel snapshot heal-forward consistent.
    * `empty` marks a row-less table (bounds meaningless).
    */
  case class SnapshotBounds(lower: Long, upper: Long, watermark: Long,
                            empty: Boolean)

  def probeSnapshotBounds(spark: SparkSession, url: String, table: String,
                          partCol: String, versionCol: String,
                          connectionProps: java.util.Properties = new java.util.Properties()): SnapshotBounds = {
    val row = spark.read.jdbc(url,
        s"(SELECT MIN($partCol) AS mn, MAX($partCol) AS mx, " +
          s"MAX($versionCol) AS wm FROM $table) graft_snap_probe",
        connectionProps)
      .selectExpr("CAST(mn AS BIGINT)", "CAST(mx AS BIGINT)",
        "CAST(wm AS BIGINT)")
      .collect()(0)
    if (row.isNullAt(0)) SnapshotBounds(0L, 0L, Long.MinValue, empty = true)
    else SnapshotBounds(row.getLong(0), row.getLong(1), row.getLong(2),
      empty = false)
  }

  /** PeerDB-style PARALLEL initial snapshot over JDBC — the reference's
    * snapshot phase reads the source in concurrent key-range chunks
    * (PeerDB's `snapshot_num_rows_per_partition` / parallel snapshot
    * workers; quickstart_prepare_peers.sh relies on it for the initial
    * copy of customers/products/orders), then tails changes from a
    * consistent point. `chunks` concurrent range queries on `partCol` (a
    * numeric key column) stream the table into the bucketed mirror;
    * Spark's partitioned JDBC scan leaves the first/last ranges unbounded,
    * so every key is covered whatever the bound staleness.
    *
    * Consistency contract — HEAL-FORWARD, not point-in-time: plain JDBC
    * has no exported-snapshot transaction to pin all chunks to one LSN
    * (PeerDB pins chunks to a replication-slot snapshot; that is the one
    * capture semantic a sidecar-less JDBC path cannot replicate), so
    * instead the capture watermark is frozen BEFORE any chunk reads
    * ([[probeSnapshotBounds]]). A row mutated while chunks stream may be
    * captured torn (chunk A pre-image, chunk B post-image — whichever its
    * range read saw), but its version is > the frozen watermark, so the
    * FIRST [[poll]] re-captures it and the newest-version FINAL merge
    * heals the mirror; rows deleted mid-snapshot heal on the first
    * [[reconcileDeletes]] round. The mirror is exactly consistent from
    * the first poll onward — the same "target flips correct once the tail
    * catches up" contract the reference's resync documents.
    *
    * `probed` injects a pre-computed probe (tests reproduce the
    * mid-snapshot mutation window deterministically with it); production
    * callers omit it.
    */
  def jdbcSnapshotPartitioned(spark: SparkSession, url: String,
                              cfg: TableConfig, mirrorDir: String,
                              partCol: String, chunks: Int,
                              connectionProps: java.util.Properties = new java.util.Properties(),
                              probed: Option[SnapshotBounds] = None): SyncState = {
    require(chunks >= 1, s"bad chunks=$chunks")
    val b = probed.getOrElse(probeSnapshotBounds(spark, url, cfg.table,
      partCol, cfg.versionCol, connectionProps))
    val source =
      if (b.empty) spark.read.jdbc(url, cfg.table, connectionProps)
      else spark.read.jdbc(url, cfg.table, partCol, b.lower, b.upper,
        chunks, connectionProps)
    snapshot(source, cfg, mirrorDir,
      watermarkOverride = Some(if (b.empty) Long.MinValue else b.watermark))
  }
}

/** Config-driven multi-table mirror orchestration — the reference mirrors a
  * SET of tables under one config (quickstart_prepare_peers.sh creates
  * customers/products/orders together; peerdb_config.yaml:53 names
  * per-table targets). One [[MultiTableMirror]] owns a mirror root with one
  * subdirectory + capture state per table and drives snapshot/poll/lag
  * across all of them.
  *
  * @param sources      resolves a table name to its current source relation
  * @param roundTimeout wall-clock bound on one snapshot/poll/reconcile
  *                     round. One wedged JDBC source (hung connect, dead
  *                     network) must not stall every table's sync forever —
  *                     the reference's flow-worker isolates per-mirror
  *                     failures the same way. On expiry the round fails
  *                     LOUDLY, naming the wedged tables; tables that
  *                     finished have already committed their own state
  *                     files (per-table durability), and the wedged tables
  *                     keep their previous state, so the next round simply
  *                     re-polls them from the old watermark.
  */
final class MultiTableMirror(spark: SparkSession, tables: Seq[TableConfig],
                             sources: String => DataFrame, mirrorRoot: String,
                             roundTimeout: scala.concurrent.duration.Duration =
                               scala.concurrent.duration.Duration(10, "min")) {
  require(tables.map(_.table).distinct.size == tables.size,
    "duplicate table names in mirror config")

  def mirrorDir(table: String): String = s"$mirrorRoot/$table"

  /** Per-table syncs are independent (disjoint mirror dirs, disjoint state
    * files), so a round runs them CONCURRENTLY from a bounded driver pool —
    * Spark schedules jobs submitted from separate threads side by side, so
    * a poll round's wall clock is the slowest table, not the sum (the
    * reference's flow-worker likewise runs one goroutine-per-mirror).
    *
    * Every future is awaited against ONE shared deadline (`roundTimeout`
    * from round start). Wedged tasks get a best-effort interrupt via
    * `shutdownNow`; a source that ignores interrupts can strand its thread,
    * but the round itself always returns in bounded time.
    */
  private def inParallel[A](work: Seq[(String, () => A)]): Seq[(String, A)] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    if (work.isEmpty) return Seq.empty
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(work.size, maxConcurrentTables))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    val deadline = System.nanoTime + roundTimeout.toNanos
    try {
      val started = work.map { case (t, w) => t -> Future(w()) }
      val done = started.map { case (t, f) =>
        val left = math.max(0L, deadline - System.nanoTime)
        t -> (try scala.util.Success(Await.result(f, left.nanos))
        catch { case e: Throwable => scala.util.Failure[A](e) })
      }
      val wedged = done.collect {
        case (t, scala.util.Failure(_: java.util.concurrent.TimeoutException)) => t
      }
      if (wedged.nonEmpty) {
        val ok = done.collect { case (t, scala.util.Success(_)) => t }
        val failed = done.collect {
          case (t, scala.util.Failure(e))
            if !e.isInstanceOf[java.util.concurrent.TimeoutException] => t -> e
        }
        // a timed-out round must not swallow a table's REAL failure — name
        // it and attach it, or the operator retries forever believing the
        // only problem is a slow source
        val e = new java.util.concurrent.TimeoutException(
          s"mirror round timed out after $roundTimeout waiting on " +
            s"${wedged.mkString(", ")} (completed and committed: " +
            s"${if (ok.isEmpty) "none" else ok.mkString(", ")}" +
            (if (failed.isEmpty) ""
            else s"; FAILED: ${failed.map(f => s"${f._1}: ${f._2}").mkString("; ")}") +
            "; wedged tables keep their previous capture state and re-poll next round)")
        failed.foreach { case (_, cause) => e.addSuppressed(cause) }
        throw e
      }
      done.map { case (t, r) => t -> r.get } // propagate the first real failure
    } finally pool.shutdownNow()
  }
  private val maxConcurrentTables = 8

  /** Full load of every configured table (concurrent across tables). */
  def snapshotAll(syncedAt: Column = current_timestamp()): Map[String, Incremental.SyncState] =
    inParallel(tables.map(t => t.table -> (() =>
      Incremental.snapshot(sources(t.table), t, mirrorDir(t.table),
        syncedAt = syncedAt)))).toMap

  /** One poll round across every configured table (concurrent across tables). */
  def pollAll(syncedAt: Column = current_timestamp()): Map[String, Incremental.PollResult] =
    inParallel(tables.map(t => t.table -> (() =>
      Incremental.poll(sources(t.table), t, mirrorDir(t.table),
        syncedAt = syncedAt)))).toMap

  /** One hard-DELETE reconciliation sweep across every configured table
    * (concurrent across tables) — see [[Incremental.reconcileDeletes]].
    */
  def reconcileAll(syncedAt: Column = current_timestamp()): Map[String, Incremental.PollResult] =
    inParallel(tables.map(t => t.table -> (() =>
      Incremental.reconcileDeletes(sources(t.table), t, mirrorDir(t.table),
        syncedAt = syncedAt)))).toMap

  /** One retention round across every configured table (concurrent across
    * tables) — see [[Incremental.expire]]. `expiredFor` maps each table
    * name to its TTL predicate (tables differ in their time columns and
    * retention windows), so one call drives the whole mirror set's
    * retention policy.
    */
  def expireAll(expiredFor: String => Column,
                maxExpireFraction: Double = 0.5): Map[String, Incremental.PollResult] =
    inParallel(tables.map(t => t.table -> (() =>
      Incremental.expire(spark, t, mirrorDir(t.table), expiredFor(t.table),
        maxExpireFraction)))).toMap

  /** One warehouse-delivery round across every configured table (concurrent
    * across tables, same shared deadline): each table's committed mirror
    * delta lands in its own JDBC target table via
    * [[graft.sinks.JdbcSink.sinkMirror]] — the reference's per-table
    * ClickHouse targets under one `clickhouse_target_database`. Idempotent
    * per round (each sink reads only the delta above its ledger's
    * high-water mark), so alternating pollAll/sinkAll keeps the warehouse
    * continuously converged at O(changes) per round.
    *
    * @param targetOf maps a mirror table name to its warehouse table name
    *                 (default: same name)
    */
  def sinkAll(url: String, props: java.util.Properties = new java.util.Properties(),
              targetOf: String => String = identity,
              dual: String = graft.sinks.JdbcSink.AnsiDual,
              evolve: Boolean = false)
      : Map[String, graft.sinks.JdbcSink.SinkReport] = {
    // two mirrors sharing one target would share its ledger: the faster
    // table's high-water mark silently filters the slower one's delta to
    // empty forever — refuse, like the duplicate-table guard above.
    // Case-folded: the sink emits UNQUOTED identifiers, so "WH" and "wh"
    // resolve to the same physical table in case-folding databases
    val targets = tables.map(t => targetOf(t.table).toUpperCase(java.util.Locale.ROOT))
    require(targets.distinct.size == targets.size,
      s"targetOf maps two mirror tables to one warehouse table: " +
        tables.map(t => s"${t.table}->${targetOf(t.table)}").mkString(", "))
    inParallel(tables.map(t => t.table -> (() =>
      graft.sinks.JdbcSink.sinkMirror(spark, mirrorDir(t.table), url,
        targetOf(t.table), t.keys, props, dual = dual,
        evolve = evolve)))).toMap
  }

  /** Per-table lag rows, unioned — the monitor's whole Lag table. */
  def lagAll(): DataFrame =
    tables.map { t =>
      Incremental.lagReport(sources(t.table),
        SyncManifest.readCommitted(spark, mirrorDir(t.table)), t)
    }.reduce(_.unionByName(_))

  /** FINAL read of one mirrored table (newest version, soft-deletes hidden),
    * pinned to the last committed sync manifest — never a mix of two syncs,
    * even while a poll or a reconcile sweep is mid-write.
    */
  def readFinal(table: String): DataFrame = {
    val cfg = tables.find(_.table == table).getOrElse(
      throw new IllegalArgumentException(s"table $table not in mirror config"))
    Mirror.readFinal(spark, mirrorDir(table), cfg.keys: _*)
  }
}
