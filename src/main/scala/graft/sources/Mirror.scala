package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Snapshot + mirror bootstrap: the "initial load" phase of the reference
  * pipeline (PeerDB copies each source table in full before tailing the
  * WAL; `quickstart_prepare_peers.sh` creates those source tables).
  *
  * [[fullLoad]] stamps PeerDB-style metadata and writes the bucketed parquet
  * layout that [[graft.streaming.CdcStream.mirrorToParquet]] then keeps
  * fresh — bucket = pmod(hash(key), nBuckets), so incremental microbatches
  * rewrite only touched buckets.
  */
object Mirror {

  /** Full snapshot load into the mirror layout. `versionCol` seeds
    * `_peerdb_version` (pass `lit(0L)` when the source has no LSN analog).
    * Stamps all four PeerDB metadata columns including `_peerdb_synced_at`
    * (the load wall-clock by default — pass `syncedAt` for reproducibility).
    */
  def fullLoad(source: DataFrame, targetDir: String, keyCol: String,
               version: org.apache.spark.sql.Column, batchId: Long = 0L,
               nBuckets: Int = 64,
               syncedAt: org.apache.spark.sql.Column = current_timestamp()): Unit = {
    val spark = source.sparkSession
    val stamped = source
      .withColumn("_peerdb_version", version.cast("long"))
      .withColumn("_peerdb_is_deleted", lit(0))
      .withColumn("_peerdb_batch_id", lit(batchId))
      .withColumn("_peerdb_synced_at", syncedAt.cast("timestamp"))
      .withColumn("bucket", pmod(hash(col(keyCol)), lit(nBuckets)))
    // RE-load over a live mirror: reader-atomic append + manifest swap
    // touching the whole old layout (see CdcStream.replaceAll) — a plain
    // overwrite would delete the very files pinned readers hold
    graft.streaming.CdcStream.replaceAll(spark, stamped, targetDir, nBuckets)
  }

  /** The raw mirror rows as of the last committed sync (manifest-pinned —
    * see [[SyncManifest.readCommitted]]): the read every monitor/validation
    * consumer should use instead of listing the directory, which would also
    * surface the retained previous generation that in-flight readers hold.
    */
  def readCommitted(spark: SparkSession, targetDir: String): DataFrame =
    SyncManifest.readCommitted(spark, targetDir)

  /** Read the mirror back, newest version per key, soft-deletes dropped —
    * ReplacingMergeTree FINAL over the bucketed layout, pinned to the last
    * committed sync (never a mix of two syncs mid-merge).
    */
  def readFinal(spark: SparkSession, targetDir: String, keys: String*): DataFrame =
    graft.operators.CdcOps
      .latestSnapshot(readCommitted(spark, targetDir), keys, "_peerdb_version")
      .where(col("_peerdb_is_deleted") === 0)

  /** Mirror consistency report — the monitor's source-vs-target row-count
    * validation (`peerdb_psql_clickhouse_monitor.ps1` compares PostgreSQL
    * and ClickHouse counts per table). One row: counts + distinct keys on
    * both sides and whether they line up. Both sides aggregate to a single
    * row before the join, so this is two scans and no shuffle of data rows.
    */
  def validateCounts(source: DataFrame, target: DataFrame, keys: Seq[String]): DataFrame = {
    def stats(df: DataFrame, prefix: String) =
      df.agg(count(lit(1)).as(s"${prefix}_rows"),
        countDistinct(col(keys.head), keys.tail.map(col): _*).as(s"${prefix}_keys"))
    stats(source, "src").crossJoin(stats(target, "dst"))
      .withColumn("keys_match", col("src_keys") === col("dst_keys"))
  }

  /** ROW-LEVEL consistency audit (r19) — the strengthening of
    * [[validateCounts]] the r18 fenced-poll episode proved necessary:
    * counts AND version lag can both read green while the mirror holds a
    * STALE row (the lost-update shape the stress harness caught with its
    * in-memory reference state; production has no such state). Each side
    * aggregates to `buckets` hash buckets of the key space, carrying a
    * row count and the XOR of per-row fingerprints
    * `xxhash64(keys..., version)` — a stale version flips its bucket's
    * XOR even when every count matches. One row per bucket with both
    * sides' stats and an `ok` verdict.
    *
    * Scale shape: each side is ONE scan aggregated map-side to ≤ `buckets`
    * rows before the join — no data-row shuffle, no row-level join; cost
    * is two scans regardless of table size, and the output is
    * buckets-bounded. XOR is order- and partitioning-independent, and a
    * parquet/JDBC round-trip preserves the hashed (keys, version) values,
    * so a clean mirror audits clean on any layout. The version column is
    * cast to LONG on BOTH sides before hashing so a JDBC DECIMAL source
    * and its parquet BIGINT mirror fingerprint identically.
    *
    * What a mismatch means: missing/extra rows (count mismatch), a stale
    * or phantom version (XOR mismatch at equal counts), or an
    * un-reconciled hard delete (the inconsistency [[Incremental]]'s
    * reconcile sweep exists to fix). Drill into a flagged bucket by
    * filtering both sides on `pmod(xxhash64(keys...), buckets) = bucket`.
    */
  def auditBuckets(source: DataFrame, target: DataFrame, keys: Seq[String],
                   versionCol: String, buckets: Int = 256): DataFrame = {
    require(buckets >= 1, s"bad buckets=$buckets")
    def side(df: DataFrame, pfx: String) = {
      val kh = xxhash64(keys.map(col): _*)
      // xxhash64 SKIPS a null input: if the long cast nulled a non-null
      // version (non-numeric column), every row would fingerprint as
      // hash(keys) alone and version-only staleness would be permanently
      // invisible behind a green audit — fail loudly instead
      val v = col(versionCol).cast("long")
      val vGuarded = when(col(versionCol).isNotNull && v.isNull,
        raise_error(concat(
          lit(s"auditBuckets: version column '$versionCol' value "),
          col(versionCol).cast("string"),
          lit(" does not cast to long; the fingerprint would silently " +
            "degrade to keys-only"))).cast("long"))
        .otherwise(v)
      val fp = xxhash64(keys.map(col) :+ vGuarded: _*)
      df.select(pmod(kh, lit(buckets.toLong)).as("bucket"), fp.as("fp"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as(s"${pfx}_rows"),
          expr("bit_xor(fp)").as(s"${pfx}_fp"))
    }
    side(source, "src").join(side(target, "mirror"), Seq("bucket"), "full_outer")
      .select(col("bucket"),
        coalesce(col("src_rows"), lit(0L)).as("src_rows"),
        coalesce(col("mirror_rows"), lit(0L)).as("mirror_rows"),
        col("src_fp"), col("mirror_fp"),
        (coalesce(col("src_rows"), lit(0L)) ===
          coalesce(col("mirror_rows"), lit(0L)) &&
          col("src_fp") <=> col("mirror_fp")).as("ok"))
  }

  /** Partitioned JDBC snapshot read — how the initial load scales against a
    * real PostgreSQL peer: `numPartitions` parallel range queries on a
    * numeric key instead of one connection streaming the whole table.
    * (Exercised only in deployments with a reachable database; this
    * container has none, so this stays a thin assembly of public
    * `spark.read.jdbc` options.)
    */
  def jdbcSnapshot(spark: SparkSession, url: String, table: String,
                   partitionColumn: String, lowerBound: Long, upperBound: Long,
                   numPartitions: Int,
                   connectionProps: java.util.Properties = new java.util.Properties()): DataFrame =
    spark.read
      .option("partitionColumn", partitionColumn)
      .option("lowerBound", lowerBound)
      .option("upperBound", upperBound)
      .option("numPartitions", numPartitions)
      .jdbc(url, table, connectionProps)
}
