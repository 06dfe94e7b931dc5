package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted, additively-maintained boilerplate index — the INCREMENTAL
  * form of [[Dedup.sentenceDedup]], which is how the CCNet pass actually
  * runs in a continuous pipeline: each synced batch is cleaned against
  * the piece frequencies accumulated over every batch before it PLUS its
  * own, then contributes its counts to the index. `cleanAndAdd(batchK)`
  * returns exactly what `Dedup.sentenceDedup` over batches 1..K would
  * return restricted to batch K's documents (spec-pinned) — without ever
  * re-scanning old batches' text: only their piece COUNTS persist
  * (vocabulary-scale, not corpus-scale).
  *
  * Contract: document ids must be disjoint across batches (the
  * [[JaccardIndex]] contract) — per-batch distinct-doc counts then sum to
  * corpus distinct-doc counts exactly.
  *
  * Layout: `dir/counts/b=K/` parquet (piece, df) per committed batch,
  * one meta JSON committed through the [[graft.sources.StateFile]] swap
  * strictly after the data dir ([[IndexMeta.commit]]). A crash between the
  * counts write and the meta flip leaves an invisible `b=K` (readers filter
  * on the `[base, batches)` live window), re-written by the retry. [[compact]]
  * folds the live generations into one and advances the base; superseded
  * dirs stay for one cycle (readers planned against the previous meta
  * keep reading) and are vacuumed by the NEXT compact — the
  * [[JaccardIndex]] grace protocol.
  *
  * Scale shape: per batch, one explode + one map-side-combined
  * distinct-doc count; the total-frequency fold unions the committed
  * vocabulary-scale counts with the batch's (hash join grain = pieces);
  * removal and rebuild are [[Dedup.removeBoiler]] unchanged. At 10¹⁰
  * docs the index holds piece counts only — the 10⁸-document footer is
  * one row with a big df.
  */
final class BoilerplateIndex private (spark: SparkSession, val dir: String,
                                      val minDocs: Int,
                                      private var committedBatches: Int,
                                      private var liveBase: Int) {
  import spark.implicits._

  private val reads = new IndexMeta.CachedReads(spark, dir)

  def batches: Int = committedBatches
  def base: Int = liveBase

  private def countsDir = s"$dir/counts"

  private def committedCounts: DataFrame =
    if (committedBatches == liveBase)
      Seq.empty[(String, Long)].toDF("piece", "df")
    else reads.parquet("counts", countsDir)
      .where(col("b") >= lit(liveBase) && col("b") < lit(committedBatches))
      .select(col("piece"), col("df").cast("long").as("df"))

  /** Clean `batch` against the accumulated-∪-batch frequencies and commit
    * the batch's own piece counts as the next generation. Returns
    * (idCol, n_sentences, n_removed, clean_text), eagerly materialized —
    * the frame stays valid after the commit regardless of the batch
    * source's determinism.
    */
  def cleanAndAdd(batch: DataFrame, idCol: String, textCol: String): DataFrame = synchronized {
    val pieces = Dedup.sentencePieces(batch, idCol, textCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val newCounts = pieces.groupBy(col("piece"))
        .agg(countDistinct(col("id")).as("df"))
      val total = committedCounts.unionByName(newCounts)
        .groupBy(col("piece")).agg(sum(col("df")).as("df"))
      val boiler = total.where(col("df") >= lit(minDocs.toLong))
        .select(col("piece"))
      val cleaned = Dedup.removeBoiler(pieces, boiler)
        .withColumnRenamed("id", idCol)
        .localCheckpoint(true)
      commitCounts(newCounts)
      cleaned
    } finally pieces.unpersist(false)
  }

  /** Commit `batch`'s piece counts WITHOUT cleaning it — the bootstrap
    * path: an initial-load corpus whose cleaned output nobody reads
    * should not pay the removal regroup and the eager checkpoint
    * [[cleanAndAdd]] materializes (90% of the corpus on a typical
    * snapshot-then-sync split). State-wise identical to cleanAndAdd.
    */
  def add(batch: DataFrame, idCol: String, textCol: String): Unit = synchronized {
    commitCounts(Dedup.sentencePieces(batch, idCol, textCol)
      .groupBy(col("piece")).agg(countDistinct(col("id")).as("df")))
  }

  private def commitCounts(newCounts: DataFrame): Unit = {
    val b = committedBatches
    newCounts.write.mode("overwrite").parquet(s"$countsDir/b=$b")
    committedBatches = b + 1
    BoilerplateIndex.writeMeta(spark, dir, minDocs, committedBatches, liveBase)
  }

  /** Fold the live counts generations into one (summed per piece) — the
    * file-count lever of a perpetually-appended index. One reader-grace
    * cycle: this compact vacuums the generations the PREVIOUS compact
    * superseded, then writes the fold and flips base/batches atomically
    * in the meta.
    */
  def compact(): Unit = synchronized {
    val b = committedBatches
    // vacuum BEFORE the single-generation early return: the generations
    // the previous compact superseded must be reclaimed even when the
    // index has gone quiet since (no new adds to fold)
    IvfIndex.vacuumBelow(spark, countsDir, liveBase)
    if (b - liveBase <= 1) return
    val folded = committedCounts.groupBy(col("piece"))
      .agg(sum(col("df")).cast("long").as("df"))
    folded.write.mode("overwrite").parquet(s"$countsDir/b=$b")
    liveBase = b
    committedBatches = b + 1
    BoilerplateIndex.writeMeta(spark, dir, minDocs, committedBatches, liveBase)
  }
}

object BoilerplateIndex {

  private val MetaFile = "_graft_boiler_index.json"
  private val Fmt = 1

  private def writeMeta(spark: SparkSession, dir: String, minDocs: Int,
                        batches: Int, base: Int): Unit =
    IndexMeta.commit(spark, dir, MetaFile,
      s"""{"fmt":$Fmt,"min_docs":$minDocs,"batches":$batches,"base":$base}""")

  /** Fresh index at `dir` (replacing any previous one). */
  def create(spark: SparkSession, dir: String, minDocs: Int = 3): BoilerplateIndex = {
    require(minDocs >= 2, s"minDocs=$minDocs")
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
    IndexMeta.CachedReads.drop(dir) // rebuilt relations may change column types
    writeMeta(spark, dir, minDocs, 0, 0)
    new BoilerplateIndex(spark, dir, minDocs, 0, 0)
  }

  /** Open the committed index at `dir`. */
  def load(spark: SparkSession, dir: String): BoilerplateIndex = {
    val Seq(minDocs, batches, base) = IndexMeta.load(spark, dir, MetaFile, Fmt,
      "boilerplate", Seq("min_docs", "batches", "base"))
    new BoilerplateIndex(spark, dir, minDocs, batches, base)
  }
}
