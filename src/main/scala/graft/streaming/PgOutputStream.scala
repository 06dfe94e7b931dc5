package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.sources.{PgOutput, StateFile}
import graft.sources.PgOutput.{Relation, RelationAt, XLogData}

/** Continuous pgoutput capture: the flow-worker loop the reference runs
  * against a replication slot (docker-compose.yml:21-28). One per-batch
  * body ([[syncFrames]]) turns a batch of raw replication frames into
  * mirror commits — decode ([[PgOutput.parse]]) → dead-letter → mirror
  * upsert ([[CdcStream.upsertBatch]], newest `_version` = LSN per key) →
  * relation registry → confirmed-flush LSN. [[mirrorFramesMulti]] runs it
  * as a Structured Streaming `foreachBatch` over a landing stream of
  * frames; [[graft.sources.ReplicationClient]] calls it directly on each
  * batch it reads off the socket.
  *
  * One layout: under a capture root `<root>`, table `t`'s mirror is
  * `<root>/t` and its state is `<root>/_pg_relations_t.bin` (the relation
  * registry) and `<root>/_pg_confirmed_lsn_t.bin` (the confirmed-flush
  * LSN). The registry persists ACROSS batches: pgoutput sends `Relation`
  * only on change or reconnect, so a batch of bare DML must decode under
  * schemas learned batches ago.
  *
  * The registry file reuses the WIRE format itself (length-prefixed
  * Relation frames, written with [[PgOutput.Fixture.relation]] and read
  * back through [[PgOutput.decodeFrame]]) — durable state goes through the
  * same decoder the stream does, so there is no second serialization
  * format to drift. It and the confirmed-flush LSN go through the
  * [[graft.sources.StateFile]] swap, like the poll-state file: a crash
  * leaves the old registry, and a replayed batch re-learns its own
  * Relation messages from its frames.
  *
  * Ordering contract: the registry is written AFTER the mirror commit.
  * Either crash window converges on replay — the mirror upsert is
  * replay-idempotent, and the batch's own Relation frames re-merge into
  * the registry.
  */
object PgOutputStream {

  /** One mirrored table of a multiplexed capture stream. */
  final case class TableSpec(table: String, keys: Seq[String], nBuckets: Int = 64)

  /** Start the capture loop: [[syncFrames]] over each microbatch of
    * `frames`, a streaming DataFrame whose `dataCol` holds raw replication
    * frames (one CopyData payload per row). Mirrors and state land under
    * `targetDir` (see the layout above); `deadRoot`, when set,
    * accumulates undecodable frames as parquet under `deadRoot/<table>`.
    */
  def mirrorFramesMulti(frames: DataFrame, dataCol: String,
                        tables: Seq[TableSpec], targetDir: String,
                        checkpointDir: String,
                        deadRoot: Option[String] = None,
                        trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    frames.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch(syncFrames(frames.sparkSession, dataCol, tables,
        targetDir, deadRoot))
      .start()

  /** The per-batch body of every frame path, as a function of (frames,
    * batch id). A postgres publication usually carries several tables over
    * a single slot, so the batch is tagged in a single decode pass
    * ([[PgOutput.tagRelids]]): every DML/Relation frame learns the one
    * relid it belongs to (TRUNCATE its list), transaction-control frames
    * belong to all tables, and the driver resolves table names to relid
    * sets from the batch's own Relation frames plus each table's
    * persisted registry. Each table then syncs from its OWN frame subset
    * (its relids + the shared control frames) through [[syncTableBatch]].
    * The per-table syncs touch disjoint files and run CONCURRENTLY, the
    * [[graft.operators.MaterializedJoin]] pattern, on threads that carry
    * the calling thread's Spark local properties — a streaming query's
    * job group covers every job of its microbatch.
    *
    * A DML frame whose relid maps to NO named table is counted and logged
    * per batch (and dead-lettered under `deadRoot/_unmatched_relid` when a
    * deadRoot is set): the specs NAME the full intended capture set, so
    * unmatched DML usually means a typo'd table name silently losing a
    * whole table's changes while its LSN still advances via control
    * frames. Broken frames reach EVERY table's dead-letter (loud beats
    * lost).
    */
  private[graft] def syncFrames(spark: SparkSession, dataCol: String,
                                tables: Seq[TableSpec], targetDir: String,
                                deadRoot: Option[String]): (DataFrame, Long) => Unit = {
    require(tables.nonEmpty, "syncFrames needs at least one table")
    require(tables.map(_.table).distinct.size == tables.size,
      s"duplicate table names in ${tables.map(_.table)}")
    (batch, batchId) => if (!batch.isEmpty) {
      val tagged = PgOutput.tagRelids(batch, dataCol)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        // name → relids: the batch's own Relation frames (one small
        // collect over the pinned tagged batch) + each persisted
        // registry (pgoutput re-describes a relation only on change
        // or reconnect — bare-DML batches resolve via the registry)
        val batchPairs = tagged.where(col("rel_name").isNotNull)
          .select(col("rel_name"), element_at(col("relids"), 1).as("relid"))
          .distinct().collect()
          .map(r => (r.getString(0), r.getInt(1)))
        val perTable = tables.map { t =>
          t -> (batchPairs.collect { case (n, r) if n == t.table => r } ++
            readRegistry(spark, targetDir, t.table).map(_.relid)).toSet
        }
        // misconfiguration tripwire: DML whose relid matches NO
        // configured table would otherwise vanish while the LSN still
        // advances — count it, log it, and dead-letter it when a dead
        // root exists (its own subdir: the reason schema differs from
        // the parse dead-letter's)
        val allRelids = perTable.flatMap(_._2).toSet
        val unmatched = tagged.where(col("rel_name").isNull &&
          size(col("relids")) > 0 &&
          (if (allRelids.isEmpty) lit(true)
           else !arrays_overlap(col("relids"),
             lit(allRelids.toArray.sorted))))
        val nUnmatched = unmatched.count()
        if (nUnmatched > 0) {
          System.err.println(s"[syncFrames] batch $batchId: " +
            s"$nUnmatched DML frame(s) match no configured table " +
            s"(configured: ${tables.map(_.table).mkString(",")}) — " +
            "check the table specs for typos" +
            deadRoot.fold("")(d => s"; dead-lettered under $d/_unmatched_relid"))
          deadRoot.foreach { d =>
            unmatched
              .select(col(dataCol), col("relids"),
                lit("unmatched_relid").as("_reason"),
                lit(batchId).as("_batch_id"))
              .write.mode("append").parquet(s"$d/_unmatched_relid")
          }
        }
        // a table no Relation has described yet has no frames here, and
        // parse (rightly) refuses to run without a Relation — its LSN
        // simply doesn't advance this batch, the safe direction
        CdcStream.concurrently(spark, perTable.collect {
          case (t, relids) if relids.nonEmpty =>
            val subset = tagged
              .where(size(col("relids")) === 0 ||
                arrays_overlap(col("relids"), lit(relids.toArray.sorted)))
              .select(col(dataCol))
            () => syncTableBatch(spark, subset, dataCol, t, targetDir,
              deadRoot, batchId)
        })
      } finally tagged.unpersist(false)
    }
  }

  /** One table's share of a batch: parse, dead-letter, TOAST heal,
    * truncate tombstones, mirror upsert into `root/<table>`, registry
    * write, then (only when nothing was lost) the confirmed-flush LSN
    * advance. `batch` carries this table's frames plus the stream's
    * transaction-control frames.
    */
  private def syncTableBatch(spark: SparkSession, batch: DataFrame,
                             dataCol: String, spec: TableSpec, root: String,
                             deadRoot: Option[String], batchId: Long): Unit = {
    val TableSpec(table, keys, nBuckets) = spec
    val mirrorDir = s"$root/$table"
    val deadDir = deadRoot.map(d => s"$d/$table")
    val prior = readRegistry(spark, root, table)
    val parsed = PgOutput.parse(batch, dataCol, table, prior)
    deadDir.foreach { d =>
      val dead = parsed.deadLetter.withColumn("_batch_id", lit(batchId))
      if (!parsed.deadLetter.isEmpty)
        dead.write.mode("append").parquet(d)
    }
    // unchanged-TOAST repair against earlier same-batch rows + the
    // committed mirror's newest image — BEFORE the upsert, so the
    // mirror only ever stores healed rows (a toasted null must not
    // win the FINAL merge over the real prior value)
    val healedChanges = PgOutput.healUnchangedToast(parsed.changes, keys,
      mirror = if (CdcStream.hasVisibleParquet(spark, mirrorDir))
        Some(graft.sources.SyncManifest.readCommitted(spark, mirrorDir))
      else None)
    val batchDf = healedChanges
      .withColumn("is_deleted", col("_is_deleted"))
      .withColumn("_batch_id", lit(batchId))
    // committed TRUNCATE: no per-key tombstones exist on the wire, so
    // synthesize them — every key the committed mirror holds below
    // the truncate LSN gets a tombstone AT that LSN (a same-batch
    // reinsert carries a higher LSN and wins the FINAL merge), and
    // batch changes at-or-below it are wiped history. Replay-safe:
    // regenerated tombstones upsert idempotently, and keys already
    // at-or-past the LSN are untouched by the newest-version merge.
    val upserts = parsed.truncates match {
      case Nil => batchDf
      case ts =>
        val lsn = ts.map(_.walStart).max
        val survivors = PgOutput.applyTruncates(batchDf, ts)
        if (!CdcStream.hasVisibleParquet(spark, mirrorDir)) survivors
        else {
          val tomb = graft.sources.SyncManifest
            .readCommitted(spark, mirrorDir)
            .where(col("_version") <= lsn)
            .select(keys.map(col) ++ Seq(
              lit(lsn).as("_version"), lit(true).as("_is_deleted"),
              lit(true).as("is_deleted"),
              lit(table).as("_source_table"),
              lit(batchId).as("_batch_id")): _*)
          survivors.unionByName(tomb, allowMissingColumns = true)
        }
    }
    CdcStream.upsertBatch(spark, upserts,
      keys, "_version", mirrorDir, nBuckets)
    if (parsed.relations.toSet != prior.toSet)
      writeRegistry(spark, root, table, parsed.relations)
    // feedback bookkeeping LAST (after the mirror + registry are
    // durable): the confirmed-flush LSN advances to the batch's max
    // frame walEnd, but ONLY when nothing was lost — dead-lettered
    // frames count as landed only if deadDir persisted them. A crash
    // between the mirror commit and this write re-acks the OLD
    // (lower) LSN on restart: the server resends the tail and the
    // replay-idempotent upsert converges — never the reverse
    // (acking WAL that never landed).
    // Gate on frame-COUNT emptiness, not on the max-walEnd peek:
    // frameWalEnd returns None for frames shorter than 9 bytes or
    // with an outer tag other than w/k, so a batch whose only dead
    // frames are peekless would pass a peek-based guard and let the
    // confirmed-flush LSN advance past WAL that landed nowhere.
    val deadSafe = deadDir.isDefined || parsed.deadLetter.isEmpty
    if (deadSafe)
      PgOutput.maxFrameWalEnd(batch, dataCol)
        .foreach(advanceConfirmedLsn(spark, root, table, _))
  }

  // ── replication-slot feedback (Standby Status Update bookkeeping) ────

  private def confirmedLsnPath(targetDir: String, table: String) =
    new Path(targetDir, s"_pg_confirmed_lsn_$table.bin")

  /** The confirmed-flush LSN this mirror can safely report to the server
    * (0 = nothing confirmed yet). Durable across restarts — the value the
    * resumed capture loop's first Standby Status Update carries, which is
    * where the server resumes the slot.
    */
  def readConfirmedLsn(spark: SparkSession, targetDir: String,
                       table: String): Long =
    StateFile.read(spark, confirmedLsnPath(targetDir, table)) { bytes =>
      if (bytes.length == 8) Some(java.nio.ByteBuffer.wrap(bytes).getLong) else None
    }.getOrElse(0L)

  /** Monotonically advance the confirmed-flush LSN (same crash contract
    * as the registry). Re-acking an already-confirmed LSN is a no-op —
    * the crash-replay path re-processes a batch whose LSN was already
    * confirmed and must not regress or churn the file.
    *
    * @return true when the stored LSN actually advanced
    */
  def advanceConfirmedLsn(spark: SparkSession, targetDir: String,
                          table: String, lsn: Long): Boolean = {
    val current = readConfirmedLsn(spark, targetDir, table)
    if (lsn <= current) return false
    StateFile.write(spark, confirmedLsnPath(targetDir, table),
      java.nio.ByteBuffer.allocate(8).putLong(lsn).array())
    true
  }

  /** The Standby Status Update this mirror should send right now: all
    * three LSNs report the durable confirmed-flush position (the
    * conservative single-position form — the mirror applies at commit, so
    * written = flushed = applied).
    */
  def feedback(spark: SparkSession, targetDir: String, table: String,
               clientTsMicros: Long,
               replyRequested: Boolean = false): Array[Byte] = {
    val lsn = readConfirmedLsn(spark, targetDir, table)
    PgOutput.standbyStatusUpdate(PgOutput.StandbyStatus(
      lsn, lsn, lsn, clientTsMicros, replyRequested))
  }

  /** The socket loop's per-frame reply contract: a server keepalive with
    * the reply-requested bit set (the server's liveness deadline — unmet,
    * it drops the connection) MUST be answered immediately with the
    * current status; every other frame needs no inline reply (the loop
    * acks in batch cadence via [[feedback]] after each commit).
    */
  def replyTo(frame: Array[Byte], spark: SparkSession, targetDir: String,
              table: String, clientTsMicros: Long): Option[Array[Byte]] =
    PgOutput.decodeFrame(frame) match {
      case Right(PgOutput.Keepalive(_, _, true)) =>
        Some(feedback(spark, targetDir, table, clientTsMicros))
      case _ => None
    }

  /** The mirror's FINAL read: newest LSN per key, soft-deletes dropped. */
  def readFinal(spark: SparkSession, targetDir: String, keys: Seq[String]): DataFrame =
    graft.operators.CdcOps.softDeleteSnapshot(
      graft.sources.SyncManifest.readCommitted(spark, targetDir),
      keys, "_version", col("is_deleted"))

  /** The initial-load→CDC handoff — PeerDB's snapshot phase for the frame
    * path: seed the mirror from a snapshot read pinned at the slot's
    * consistent point (the LSN `CREATE_REPLICATION_SLOT` reports; its
    * exported snapshot is what `snapshot` should have been read under),
    * then stream from EXACTLY there. Every snapshot row lands versioned
    * AT `consistentLsn`; every post-snapshot WAL commit carries a higher
    * LSN, so its image wins the FINAL merge — updates and deletes of
    * snapshot rows apply, and re-sent WAL the snapshot already contains
    * converges idempotently.
    *
    * Crash contract: the mirror commit lands BEFORE the confirmed-flush
    * LSN file. A crash between the two leaves `readConfirmedLsn` at 0 —
    * the recovery path is to re-run bootstrap (the upsert replays the
    * same rows at the same version and converges; `advanceConfirmedLsn`
    * is monotone) and only then start the socket loop, which handshakes
    * at the consistent point. Never the reverse order: an LSN written
    * first would let a crash skip the snapshot entirely while the server
    * believes it delivered.
    *
    * `targetDir` is the table's mirror, `<root>/<table>`; the rewind guard
    * reads, and the LSN lands in, the capture root `<root>` — where
    * [[mirrorFramesMulti]] and the socket client keep it.
    */
  def bootstrapSnapshot(spark: SparkSession, snapshot: DataFrame,
                        keys: Seq[String], consistentLsn: Long,
                        targetDir: String, table: String,
                        nBuckets: Int = 16): Unit = {
    require(consistentLsn > 0, s"bad consistent point $consistentLsn")
    val root = new Path(targetDir).getParent.toString
    val confirmed = readConfirmedLsn(spark, root, table)
    require(confirmed == 0L || confirmed == consistentLsn,
      s"mirror at $targetDir already confirmed ${confirmed} — bootstrap " +
        "would rewind an active capture; use a fresh target or resume the " +
        "stream instead")
    val seeded = snapshot
      .withColumn("_version", lit(consistentLsn))
      .withColumn("is_deleted", lit(false))
      .withColumn("_source_table", lit(table))
    CdcStream.upsertBatch(spark, seeded, keys, "_version", targetDir,
      nBuckets)
    advanceConfirmedLsn(spark, root, table, consistentLsn)
  }

  private def registryPath(targetDir: String, table: String) =
    new Path(targetDir, s"_pg_relations_$table.bin")

  /** Load the persisted relation registry (empty on first batch). Frames
    * that fail to decode throw — a corrupt registry must stop the capture
    * loop loudly, not silently decode rows under a wrong schema.
    */
  def readRegistry(spark: SparkSession, targetDir: String,
                   table: String): Seq[RelationAt] = {
    val p = registryPath(targetDir, table)
    StateFile.read(spark, p) { bytes =>
      val bb = java.nio.ByteBuffer.wrap(bytes)
      val out = Seq.newBuilder[RelationAt]
      def nextLen = if (bb.remaining() >= 4) bb.getInt(bb.position()) else 0
      while (nextLen > 0 && nextLen <= bb.remaining() - 4) {
        val frame = new Array[Byte](bb.getInt)
        bb.get(frame)
        PgOutput.decodeFrame(frame) match {
          case Right(XLogData(walStart, _, _, Relation(relid, _, name, _, cols)))
            if name == table => out += RelationAt(walStart, relid, cols)
          case other => throw new IllegalStateException(
            s"corrupt registry $p: unexpected entry $other")
        }
      }
      // bytes left over that hold no whole frame: a torn write
      if (bb.hasRemaining) None else Some(out.result())
    }.getOrElse(Nil)
  }

  private[graft] def writeRegistry(spark: SparkSession, targetDir: String,
                                   table: String, rels: Seq[RelationAt]): Unit = {
    val buf = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(buf)
    rels.sortBy(_.walStart).foreach { r =>
      val frame = PgOutput.Fixture.relation(r.walStart, r.relid, "", table, r.cols)
      out.writeInt(frame.length)
      out.write(frame)
    }
    StateFile.write(spark, registryPath(targetDir, table), buf.toByteArray)
  }
}
