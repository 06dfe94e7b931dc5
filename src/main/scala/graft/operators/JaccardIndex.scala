package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Persisted, additively maintained prefix-filtering index for continuous
  * exact-Jaccard dedup — the index-lifecycle companion of
  * [[Dedup.jaccardPairsIncremental]]. The one-shot form recomputes document
  * frequency and corpus postings over corpus ∪ batch on every call, which is
  * the right shape for a single ad-hoc probe but a full corpus rescan per
  * sync batch in a continuous pipeline (the reference's premise: PeerDB
  * mirrors run forever, landing batch after batch — peerdb_config.yaml's
  * perpetual mirror definitions). This class persists the two corpus-side
  * relations next to the mirror and updates them ADDITIVELY per batch, so a
  * landed batch pays O(batch) compute plus PARTITION-PRUNED columnar scans
  * of the index — never a re-tokenize, re-aggregate, or re-window of the
  * corpus, and never a corpus-sized read.
  *
  * == On-disk layout ==
  * {{{
  *   dir/_graft_jaccard_index.json  {"fmt":2,"threshold":…,"parts":P,"batches":N,"base":B}
  *   dir/tokens/b=K/        (w, odf)      append-only vocabulary, order keys
  *   dir/postings/b=K/p=J/  (id, w, rn, n) prefix postings, J = hash(w) mod P
  *   dir/sets/b=K/q=J/      (id, wh)      sorted hash-set,  J = hash(id) mod P
  * }}}
  * Each batch writes its three additions under fresh `b=K` directories and
  * then commits the meta file through the [[graft.sources.StateFile]] swap,
  * strictly after all three data dirs are committed (so [[JaccardIndex.load]]
  * may adopt a complete tmp left without a meta file).
  * Readers filter `base <= b < committed batches` (`base` advances when
  * [[compact]] folds the live generations into one), so a crash mid-append
  * or mid-compact leaves invisible stray files that the next add simply
  * overwrites: the index is never read torn. [[probe]] additionally spills its batch relations to a
  * process-unique `dir/_probe/<id>/` subtree (underscore-prefixed, so no
  * committed-relation reader ever lists it) — probe MUTATES DISK but never
  * the committed layout, so concurrent probers are safe alongside the
  * single writer; crashed probers leave `_probe` debris that the next
  * [[JaccardIndex.create]] reclaims.
  * `fmt` names the layout version; [[load]] rejects a meta from an
  * incompatible layout with a rebuild-with-create() error instead of
  * mis-reporting it as corruption.
  *
  * == Soundness of the frozen token order ==
  * Prefix filtering is sound under ANY fixed total order on tokens: if both
  * sets' prefixes (first n − ⌈t·n⌉ + 1 tokens under that order) are taken
  * under the SAME order, any pair with J ≥ t shares a prefix token
  * (Chaudhuri 2006; Bayardo 2007 — df-ascending is only a bucket-size
  * heuristic, not a correctness requirement). The index therefore freezes
  * each token's order key `odf` ONCE, at the token's first appearance (its
  * document frequency at that moment); later batches may shift true dfs but
  * never an assigned key, so the global order `(odf, w)` is consistently
  * EXTENDED — never permuted — and postings written in batch 0 remain valid
  * prefixes under the order batch K probes with. Recall is exact forever;
  * the only drift is bucket-size quality (a token that later becomes common
  * keeps its rare-looking key, so its posting bucket can grow hot). Rebuild
  * with [[JaccardIndex.create]] periodically to re-canonicalize order keys;
  * every emitted pair is exact-verified regardless, so staleness can never
  * produce a false positive either.
  *
  * == Scale (100 TB) ==
  * Per-batch work: tokenize/window the BATCH only (materialized once per
  * add — the three relation writes and the probe all reuse it, so a
  * non-deterministic source cannot make postings disagree with the sets of
  * the same batch). The corpus is touched by two PARTITION-PRUNED scans:
  * postings dirs are hash-partitioned by token (`p = hash(w) mod parts`)
  * and a probe reads only the directories holding one of the batch's prefix
  * tokens; sets dirs are hash-partitioned by id (`q = hash(id) mod parts`)
  * and a probe reads only the directories holding a surviving candidate id.
  * Both prunings are driven by a bounded driver-side collect (≤ `parts`
  * distinct partition values each); file listing skips every other
  * directory, so per-batch read IO tracks the candidate volume, not the
  * corpus size. Index storage is one posting row per prefix token
  * (≈ (1−t) of the corpus token count) plus one hash-set row per doc — the
  * same order as the mirrored text itself. Single WRITER (add/create) per
  * index dir — same contract as the capture state file; probes are
  * readers (their spill is private per instance) and may run concurrently
  * with each other and with the writer.
  */
final class JaccardIndex private (spark: SparkSession, val dir: String,
                                  val threshold: Double, val parts: Int,
                                  @volatile private var committedBatches: Int,
                                  @volatile private var liveBase: Int) {
  import JaccardIndex._

  /** Number of batches committed so far (including the creating corpus). */
  def batches: Int = committedBatches

  /** First live generation: readers scan `base <= b < batches`. Advanced by
    * [[compact]]; 0 until then.
    */
  def base: Int = liveBase

  private def rel(name: String): String = s"$dir/$name"

  /** AQE-off maintenance child session for the BUILD lanes (addWith /
    * compact writes) — the [[MaterializedJoin]] finding applies here too:
    * AQE materializes every exchange of every small lifecycle plan as its
    * own driver job, and the build cost at batch cadence is that driver
    * chain, not data volume. Probes stay on the caller's session (their
    * candidate joins are the data-scale part, where AQE earns its keep).
    * Initialized lazily ON the (synchronized) writer thread — a plain
    * `lazy val` would let a future thread take the instance monitor the
    * writer already holds (the deadlock class documented at
    * [[writeProbeSpill]]).
    */
  @volatile private var maintSession: org.apache.spark.sql.SparkSession = null
  private def maint: org.apache.spark.sql.SparkSession = {
    if (maintSession == null) {
      val m = graft.GraftSession.trimChildSession(spark.newSession())
      m.conf.set("spark.sql.adaptive.enabled", "false")
      maintSession = m
    }
    maintSession
  }

  /** Rebuild a caller-session frame against the maintenance session —
    * shared SparkContext/cache, so persisted inputs still hit.
    */
  private def onMaint(df: DataFrame): DataFrame =
    org.apache.spark.sql.graft.bridge.ofRows(maint, df.queryExecution.logical)

  /** PROBE session: a CLONE of the caller's session (AQE and every caller
    * conf intact — the candidate joins are the data-scale part where AQE
    * earns its keep) minus the runtime-filter injection rules
    * ([[graft.GraftSession.trimChildSession]]): every join in a probe
    * plan is prefix-candidate/batch-bounded by contract, so the Bloom
    * injection walk can never fire here, yet it dominated the lifecycle
    * queries' Catalyst time (measured r21: 2.6 s per
    * dedup_incremental_indexed call, 18 runs, 0 effective — wall 6.1 →
    * 4.3 s with the rule off on this path). Same volatile-init pattern
    * as [[maint]] (lazy-val monitor deadlock).
    */
  @volatile private var probeSessionVar: org.apache.spark.sql.SparkSession = null
  private def probeSession: org.apache.spark.sql.SparkSession = {
    if (probeSessionVar == null)
      probeSessionVar = graft.GraftSession.trimChildSession(
        org.apache.spark.sql.graft.bridge.cloneSession(spark))
    probeSessionVar
  }
  private def onProbe(df: DataFrame): DataFrame =
    org.apache.spark.sql.graft.bridge.ofRows(probeSession,
      df.queryExecution.logical)

  /** The write-time (and probe-time) partition key: which `p=J` / `q=J`
    * directory a token / id lands in.
    */
  private def partOf(c: Column): Column = pmod(xxhash64(c), lit(parts)).cast("int")

  /** True when a relation dir holds at least one committed, visible parquet
    * data file. A dir that exists but holds none (every committed batch
    * wrote zero rows to this relation, or only hidden `_temporary` debris
    * remains) must read as EMPTY rather than fail schema inference.
    */
  private def hasData(name: String): Boolean = hasDataAt(rel(name))

  private def hasDataAt(path: String): Boolean = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return false
    val qualified = fs.makeQualified(root)
    def visible(p: Path): Boolean = {
      var cur = p
      while (cur != null && cur != qualified) {
        val n = cur.getName
        if (n.startsWith("_") || n.startsWith(".")) return false
        cur = cur.getParent
      }
      true
    }
    val files = fs.listFiles(root, true)
    while (files.hasNext) {
      val p = files.next().getPath
      if (p.getName.endsWith(".parquet") && visible(p)) return true
    }
    false
  }

  /** Per-path-shape schema cache: every relation's layout is fixed by
    * this writer, so the FIRST read's footer inference serves every later
    * read of the same shape — a probe/add cycle otherwise pays one
    * schema-inference Spark job per `spark.read.parquet` call (the same
    * per-read tax the SyncManifest mirrors eliminated by storing their
    * schema; an index instance can simply remember its own).
    */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.types.StructType]()

  private def readParquetCached(kind: String, path: String): DataFrame = {
    val cached = schemaCache.get(kind)
    val df =
      if (cached != null) spark.read.schema(cached).parquet(path)
      else spark.read.parquet(path)
    if (cached == null) schemaCache.put(kind, df.schema)
    df
  }

  /** Committed vocabulary rows; `fallback` supplies the empty schema before
    * the first committed row exists.
    */
  private def readTokens(fallback: => DataFrame, upTo: Int): DataFrame =
    if (upTo <= 0 || !hasData("tokens")) fallback.limit(0)
    else readParquetCached("tokens", rel("tokens"))
      .where(col("b") >= lit(liveBase) && col("b") < lit(upTo)).drop("b")

  /** Committed rows of a hash-partitioned relation, PRUNED to the partition
    * directories in `vals` — the filter lands on the partition columns, so
    * planning lists (and the scan reads) only matching `b=K/·=J` dirs.
    */
  private def readPruned(name: String, fallback: => DataFrame, upTo: Int,
                         partCol: String, vals: Seq[Int]): DataFrame =
    if (upTo <= 0 || !hasData(name)) fallback.limit(0)
    else readParquetCached(name, rel(name))
      .where(col("b") >= lit(liveBase) && col("b") < lit(upTo)
        && col(partCol).isin(vals: _*))
      .drop("b", partCol)

  /** The rows batch `k` committed to one relation (probe-after-add reads the
    * batch side back from disk); `fallback` supplies the schema when the
    * whole relation is still fileless (empty corpus AND empty batch).
    */
  private def committedBatch(name: String, k: Int, partCol: String,
                             fallback: => DataFrame): DataFrame =
    if (!hasData(name)) fallback.limit(0)
    else readParquetCached(name, rel(name))
      .where(col("b") === lit(k)).drop("b", partCol)

  /** Batch-side derivations, shared by probe and add so both sides agree on
    * new-token order keys by construction. `words` is the root of all three
    * relations — [[addWith]] materializes it so the batch pipeline executes
    * exactly once per add.
    */
  private case class Prepared(words: DataFrame, newTokens: DataFrame,
                              post: DataFrame, sets: DataFrame)

  private def prepare(batch: DataFrame, idCol: String, textCol: String,
                      knownOverride: Option[DataFrame] = None): Prepared = {
    val words = Dedup.widen(batch).select(col(idCol).as("id"),
      array_distinct(split(lower(col(textCol)), " ")).as("words"))
    val tok = words.select(col("id"), size(col("words")).as("n"),
      explode(col("words")).as("w"))
    // knownOverride lets [[bootstrapFirstSync]] hand the batch the corpus
    // vocabulary IN MEMORY (it is exactly what the tokens relation will
    // hold once the concurrent wave commits) instead of reading it back
    // from not-yet-written files
    val known = knownOverride.getOrElse(
      readTokens(tok.select(col("w"), lit(0L).as("odf")), committedBatches))
    // a token unseen by every committed batch gets its order key HERE — its
    // df within this batch — and keeps it forever (see class doc)
    val newTokens = tok.join(known, Seq("w"), "left_anti")
      .groupBy(col("w")).agg(count(lit(1)).as("odf"))
    val vocab = known.unionByName(newTokens)
    val post = tok.join(vocab, "w")
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("id")).orderBy(col("odf"), col("w"))))
      .where(col("rn") <= col("n") - ceil(col("n") * lit(threshold)) + 1)
      .select(col("id"), col("w"), col("rn").cast("int").as("rn"),
        col("n").cast("int").as("n"))
    val sets = words.select(col("id"),
      sort_array(array_distinct(transform(col("words"), t => xxhash64(t)))).as("wh"))
    Prepared(words, newTokens, post, sets)
  }

  /** All J ≥ threshold pairs touching `batch` — (batch × indexed corpus) ∪
    * (batch × batch) — without modifying the COMMITTED index. Ids must be
    * disjoint from every previously indexed id. Returns (id_a, id_b,
    * jaccard), id_a < id_b; recall is guaranteed (frozen-order prefix
    * filtering) and every pair is exact-verified, so the result EQUALS the
    * one-shot [[Dedup.jaccardPairsIncremental]] on the same inputs.
    *
    * Deterministic by construction: the batch pipeline executes exactly
    * ONCE (materialized, then spilled to this instance's PRIVATE
    * `_probe/<id>` subtree — never the committed layout, so index readers
    * and other probers never see it) and the returned plan reads only
    * files — a non-deterministic batch source (a live JDBC tail) cannot
    * make the pruning collects disagree with the pair join. Probe does NOT
    * need writer ownership of `dir`: any number of concurrent probers
    * (other processes, other instances in this JVM) are safe alongside the
    * single add/create writer, each spilling to its own subtree. The
    * returned frame stays re-evaluable until THIS instance's next probe
    * overwrites its spill — [[probeAndAdd]] instead commits the batch and
    * probes the committed copy, so a continuous pipeline can hold each
    * sync's pairs open indefinitely.
    */
  def probe(batch: DataFrame, idCol: String, textCol: String): DataFrame = synchronized {
    val k = committedBatches
    val p = prepare(batch, idCol, textCol)
    materialized(p)(writeProbeSpill(p))
    probeAgainst(spilled("postings", "p", p.post),
      spilled("sets", "q", p.sets), k)
  }

  /** Spill root for [[probe]]'s batch relations: an underscore-prefixed
    * sibling of the committed relations (so no committed-relation reader
    * lists it), unique per index INSTANCE (so concurrent probers of the
    * same dir never overwrite each other's in-flight spill — the committed
    * layout's `b=K` dirs would be shared across processes). Registered
    * with the ONE JVM-wide exit hook ([[JaccardIndex.registerSpill]] — a
    * hook per instance would accumulate unboundedly in a load()-per-sync
    * pipeline) and best-effort removed there; a crashed prober's leftover
    * tree is ordinary crash debris, reclaimed by the next
    * [[JaccardIndex.create]].
    */
  private lazy val probeSpillRoot: String = {
    val path = s"$dir/_probe/${java.util.UUID.randomUUID().toString.take(12)}"
    JaccardIndex.registerSpill(path, spark.sparkContext.hadoopConfiguration)
    path
  }

  private def writeProbeSpill(p: Prepared): Unit = {
    // force the lazy val ON THIS THREAD: scala lazy-val init takes the
    // instance monitor, which probe() (synchronized) already holds — a
    // future thread initializing it would deadlock against us
    val root = probeSpillRoot
    JaccardIndex.concurrently(
      () => p.post.withColumn("p", partOf(col("w")))
        .repartition(parts, col("p"))
        .write.mode("overwrite").partitionBy("p").parquet(s"$root/postings"),
      () => p.sets.withColumn("q", partOf(col("id")))
        .repartition(parts, col("q"))
        .write.mode("overwrite").partitionBy("q").parquet(s"$root/sets"))
  }

  /** Read one spilled batch relation back; `fallback` supplies the schema
    * when the batch wrote no rows (empty-frame parquet writes carry no
    * data files).
    */
  private def spilled(name: String, partCol: String,
                      fallback: => DataFrame): DataFrame = {
    val path = s"$probeSpillRoot/$name"
    if (!hasDataAt(path)) fallback.limit(0)
    // spill trees lack the b=K level, so they cache under their own shape
    else readParquetCached(s"spill-$name", path).drop(partCol)
  }

  private def probeAgainst(bpost: DataFrame, bsets: DataFrame,
                           corpusUpTo: Int): DataFrame = {
    // prune the corpus postings SCAN to the partition dirs that can hold one
    // of the batch's prefix tokens (bounded collect: ≤ `parts` values), then
    // prune surviving rows to exactly those tokens with a semi-join whose
    // right side is batch-vocabulary-sized (broadcast in the CDC regime)
    val tP = System.nanoTime()
    val pvals = bpost.select(partOf(col("w")).as("p")).distinct()
      .collect().map(_.getInt(0)).toSeq
    mark("probe pvals", tP)
    val cp = readPruned("postings", bpost, corpusUpTo, "p", pvals)
      .join(bpost.select(col("w")).distinct(), Seq("w"), "left_semi")
    // prune the corpus sets SCAN to the partition dirs that can hold a
    // surviving candidate id: the second bounded collect runs the pruned
    // postings join once to learn which id partitions matter, and the final
    // plan runs it again. Every input of that join is an immutable
    // committed/spilled file, so the two executions agree BY CONSTRUCTION;
    // re-running a pruned columnar scan beats materializing the candidate
    // set, whose size tracks the batch's vocabulary overlap with the corpus
    // (≈ the whole postings relation when a large batch shares the corpus
    // vocabulary — benchmarked 2.5x slower as a spill at sf0.1)
    val tQ = System.nanoTime()
    val qvals = onProbe(cp.select(partOf(col("id")).as("q")).distinct())
      .collect().map(_.getInt(0)).toSeq
    mark("probe qvals", tQ)
    // attach each doc's hash set BEFORE the candidate join so thresholded
    // verification runs inline in the join's codegen pipeline (the shape of
    // jaccardPairsPrefix)
    val bv = bpost.join(bsets, "id")
    val cv = cp.join(readPruned("sets", bsets, corpusUpTo, "q", qvals), "id")
    // sized from relation bytes × the pruned-directory fraction (plan
    // stats cannot see partition pruning on file sources, so the frame's
    // own stats would weigh a small probe at the FULL index size); ×4
    // covers the attached hash sets on both join sides
    val probeParts = if (!hasData("postings"))
      graft.GraftSession.parallelismFloor(spark)
    else {
      val relBytes = readParquetCached("postings", rel("postings"))
        .queryExecution.optimizedPlan.stats.sizeInBytes
      val frac = BigDecimal(math.min(pvals.size, parts)) / math.max(parts, 1)
      graft.GraftSession.sizedPartitionsFromBytes(spark,
        (BigDecimal(relBytes) * frac).toBigInt, expansion = 4.0,
        targetBytes = 4L << 20)
    }
    pairJoin(bv, cv.unionByName(bv), probeParts)
  }

  /** The verified pair join both probe forms share: batch side `bv` against
    * `all` = corpus candidates ∪ batch (so batch×batch pairs emerge too),
    * positional prefix upper bound inline, exact sortedJaccard verify,
    * canonical (id_a < id_b) dedup.
    */
  /** `parts` sizes both the probe-side repartition and (via
    * [[graft.GraftSession.sizedExchanges]]) the join's implicit exchanges —
    * callers compute it from their corpus side's byte statistics so the
    * candidate join fans wider at big indexes instead of deepening the
    * session floor (the jaccardPairsPrefix sizing rule).
    */
  private def pairJoin(bv: DataFrame, all: DataFrame, parts: Int): DataFrame = {
    val ubound = (lit(1) + least(col("l.n") - col("l.rn"), col("r.n") - col("r.rn")))
      .cast("double") * lit(1.0 + threshold)
    val positional =
      ubound >= (col("l.n") + col("r.n")).cast("double") * lit(threshold) - lit(1e-6)
    val jac = graft.expressions.NativeFunctions.sortedJaccard(col("l.wh"), col("r.wh"), threshold)
    // explicit repartition of the probe side — the AQE single-task
    // coalescing trap, same as jaccardPairsIncremental
    graft.GraftSession.sizedExchanges(onProbe(
      bv.repartition(parts, col("id")).as("l").join(all.as("r"),
        col("l.w") === col("r.w") && col("l.id") =!= col("r.id") && positional)
      .select(least(col("l.id"), col("r.id")).as("id_a"),
        greatest(col("l.id"), col("r.id")).as("id_b"), jac.as("jaccard"))
      .where(col("jaccard") >= threshold)
      .distinct()), parts, targetBytes = 4L << 20)
  }

  /** [[probeAgainst]]'s in-memory twin for [[bootstrapFirstSync]]: both
    * sides come straight from the pinned Prepared relations instead of
    * committed files, so the probe can EXECUTE concurrently with the
    * commit wave that is writing those same relations. No pruning
    * collects — pruning exists to avoid corpus-sized scans of committed
    * dirs, and here the corpus relations are already in this plan (and in
    * memory); the semi-join keeps the candidate row flow identical. Output
    * equals [[probeAgainst]] on the committed copies by construction: the
    * committed files are written FROM these very pinned frames, and the
    * pair join is shared ([[pairJoin]]).
    */
  private def probeInMemory(corpus: Prepared, batch: Prepared): DataFrame = {
    val cp = corpus.post
      .join(batch.post.select(col("w")).distinct(), Seq("w"), "left_semi")
    val bv = batch.post.join(batch.sets, "id")
    val cv = cp.join(corpus.sets, "id")
    // sized from the corpus' widened scan (the jaccardPairsPrefix rule and
    // fan-out: compressed text → postings-with-attached-hash-sets)
    pairJoin(bv, cv.unionByName(bv), graft.GraftSession.sizedPartitions(
      corpus.words, expansion = 128.0, targetBytes = 4L << 20))
  }

  /** Append `batch` to the index (new tokens + its postings + its sets) and
    * commit. O(batch) compute; the only corpus-side read is the vocabulary
    * anti-join (token-relation-sized, not corpus-sized).
    */
  def add(batch: DataFrame, idCol: String, textCol: String): Unit =
    addWith(prepare(batch, idCol, textCol))

  /** Pin the tokenized batch, run `body` against the cached copy, release.
    * Every write (and the probe spill) derives from ONE execution of the
    * batch pipeline — a non-deterministic batch source (a live JDBC tail
    * between two runs) can never commit postings disagreeing with the sets
    * written from a different execution, which would silently break
    * frozen-order recall. No up-front count: the block manager locks each
    * cached partition while the first reader computes it, so the
    * concurrent write lanes still materialize every partition exactly once
    * — the dedicated pin job was one driver action per batch for nothing.
    */
  private def materialized[A](p: Prepared)(body: => A): A = {
    p.words.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try body finally p.words.unpersist(false)
  }

  /** Write the batch's postings and sets under `b=$b` (no meta commit —
    * the caller decides whether the write is an add or a probe spill).
    */
  /** The batch's two (or, in [[addWith]], three) relation writes derive
    * from the SAME materialized batch and land in disjoint dirs — they run
    * CONCURRENTLY ([[JaccardIndex.concurrently]]): build wall-clock is the
    * slowest relation, not the sum, and the meta still commits strictly
    * after all of them (the visibility flip is unchanged).
    */
  private def writeBatchRelations(p: Prepared, b: Int): Unit = {
    maint // force session init on the calling thread
    // repartition(parts, ·): ≈ one file per partition dir AND the task-
    // count cap scoped to THIS exchange only — capping the maint session's
    // shuffle.partitions instead would throttle the row-scale vocabulary
    // aggregation and prefix window that feed these writes
    JaccardIndex.concurrently(
      () => onMaint(p.post.withColumn("p", partOf(col("w")))
        .repartition(parts, col("p")))
        .write.mode("overwrite").partitionBy("p").parquet(rel(s"postings/b=$b")),
      () => onMaint(p.sets.withColumn("q", partOf(col("id")))
        .repartition(parts, col("q")))
        .write.mode("overwrite").partitionBy("q").parquet(rel(s"sets/b=$b")))
  }

  private def mark(label: String, t0: Long): Unit =
    if (sys.env.contains("SPARK_GRAFT_JI_TIMING"))
      System.err.println(f"[ji] $label ${(System.nanoTime() - t0) / 1e9}%.3f s")

  private def addWith(p: Prepared): Unit = synchronized {
    val tM = System.nanoTime()
    materialized(p) {
      mark("materialize batch", tM)
      val b = committedBatches
      maint // force session init on the calling thread
      val tW = System.nanoTime()
      JaccardIndex.concurrently(
        () => onMaint(p.newTokens).write.mode("overwrite")
          .parquet(rel(s"tokens/b=$b")),
        () => writeBatchRelations(p, b))
      mark("relation writes", tW)
      committedBatches = b + 1
      writeMeta(spark, dir, threshold, parts, committedBatches, liveBase)
    }
  }

  /** Fold every live generation of all three relations into ONE — the
    * file-count lever of a perpetually-appended index: each add leaves its
    * own `b=K` tree (≈ one file per touched `p=J`/`q=J` dir), so a mirror
    * landing batches for months fragments every pruned probe scan into
    * thousands of small files. One live-relation pass each for tokens /
    * postings / sets (rewritten under the next `b`, partition layout
    * preserved), then an atomic `base`/`batches` meta flip; order keys are
    * data, not layout, so probes are byte-identical through a compact.
    * Superseded generation dirs are retained for one compact cycle (the
    * [[graft.sources.SyncManifest]] reader grace — a probe planned against
    * the previous meta keeps reading) and vacuumed by the NEXT compact.
    * A WRITER operation under the same single-writer contract as [[add]]:
    * don't run it concurrently with an in-flight [[probeAndAdd]] whose
    * result has not been consumed yet.
    */
  def compact(): Unit = synchronized {
    val b = committedBatches
    if (b - liveBase <= 1) return // already a single (or no) live generation
    def live(df: DataFrame) =
      df.where(col("b") >= lit(liveBase) && col("b") < lit(b)).drop("b")
    Seq("tokens", "postings", "sets")
      .foreach(r => IvfIndex.vacuumBelow(spark, rel(r), liveBase))
    maint // force session init on the calling thread
    JaccardIndex.concurrently(
      () => if (hasData("tokens"))
        onMaint(live(readParquetCached("tokens", rel("tokens"))))
          .write.mode("overwrite").parquet(rel(s"tokens/b=$b")),
      () => if (hasData("postings"))
        onMaint(live(readParquetCached("postings", rel("postings")))
          .repartition(parts, col("p")))
          .write.mode("overwrite").partitionBy("p").parquet(rel(s"postings/b=$b")),
      () => if (hasData("sets"))
        onMaint(live(readParquetCached("sets", rel("sets")))
          .repartition(parts, col("q")))
          .write.mode("overwrite").partitionBy("q").parquet(rel(s"sets/b=$b")))
    liveBase = b
    committedBatches = b + 1
    writeMeta(spark, dir, threshold, parts, committedBatches, liveBase)
  }

  /** Bootstrap (`corpus` → `b=0`) and first sync (`batch` → `b=1`, probed)
    * in ONE commit wave — the snapshot-plus-first-CDC-batch handoff of a
    * fresh mirror (the reference's initial-load-then-stream flow,
    * quickstart_prepare_peers.sh:80). Result and on-disk state are
    * byte-equal to `create(corpus)` followed by `probeAndAdd(batch)`: the
    * batch's order keys come from the corpus vocabulary handed over in
    * memory (exactly what the sequential path reads back from the just-
    * committed tokens relation), and the probe ([[probeInMemory]]) reads
    * the SAME pinned frames the wave is committing — the committed files
    * are written FROM those frames, so the results agree by construction.
    * The win is wall-clock, twice over: all SIX relation writes
    * (tokens/postings/sets × two batches, disjoint dirs) run concurrently,
    * AND the probe EXECUTES inside that wave as a seventh lane (it needs
    * no committed files), so bootstrap+first-sync latency is
    * max(build, probe) — not build + probe as in the sequential path.
    */
  private[operators] def bootstrapFirstSync(corpus: DataFrame, batch: DataFrame,
                                            idCol: String, textCol: String): DataFrame = synchronized {
    require(committedBatches == 0 && liveBase == 0,
      s"bootstrapFirstSync needs a fresh index (batches=$committedBatches)")
    val p0 = prepare(corpus, idCol, textCol)
    val p1 = prepare(batch, idCol, textCol, knownOverride = Some(p0.newTokens))
    materialized(p0) {
      // the corpus vocabulary feeds its own tokens write AND the batch's
      // whole pipeline — pin it so the groupBy runs once, not four times;
      // postings/sets feed both their write lane AND the concurrent probe
      val waved = Seq(p0.newTokens, p0.post, p0.sets, p1.post, p1.sets)
      waved.foreach(_.persist(
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      try materialized(p1) {
        maint // force session init on the calling thread
        @volatile var pairs: DataFrame = null
        JaccardIndex.concurrently(
          () => onMaint(p0.newTokens).write.mode("overwrite")
            .parquet(rel("tokens/b=0")),
          () => writeBatchRelations(p0, 0),
          () => onMaint(p1.newTokens).write.mode("overwrite")
            .parquet(rel("tokens/b=1")),
          () => writeBatchRelations(p1, 1),
          // the probe needs NO committed files (probeInMemory reads the
          // pinned frames the lanes above are committing), so it executes
          // as a seventh lane: bootstrap latency = max(build, probe).
          // localCheckpoint materializes the (tiny) pair list so the
          // returned frame outlives the wave's unpersist.
          () => pairs = probeInMemory(p0, p1).localCheckpoint(true))
        committedBatches = 2
        writeMeta(spark, dir, threshold, parts, committedBatches, liveBase)
        pairs
      } finally waved.foreach(_.unpersist(false))
    }
  }

  /** Commit `batch`, then return its pairs — the per-sync step of a
    * continuous pipeline. The probe runs against the COMMITTED `b=K` copy of
    * the batch with the corpus cutoff pinned below it, which is byte-equal
    * to a probe-before-add (the cutoff excludes the batch itself) and
    * deterministic even when the batch source is not: both probe sides read
    * committed files, and the batch pipeline executed exactly once (inside
    * the add, against the materialized batch).
    */
  def probeAndAdd(batch: DataFrame, idCol: String, textCol: String): DataFrame = {
    val k = committedBatches
    val p = prepare(batch, idCol, textCol)
    addWith(p)
    probeAgainst(committedBatch("postings", k, "p", p.post),
      committedBatch("sets", k, "q", p.sets), k)
  }
}

object JaccardIndex {

  /** Live probe-spill paths, reclaimed by ONE JVM exit hook (never one per
    * instance). Entries are only added — a path is tiny, an instance's
    * spill dir may still back an open probe plan until exit, and the set
    * is bounded by instances created in this JVM's lifetime.
    */
  private val spillPaths =
    java.util.concurrent.ConcurrentHashMap.newKeySet[
      (String, org.apache.hadoop.conf.Configuration)]()
  private lazy val spillHookInstalled: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      spillPaths.forEach { case (path, conf) =>
        try {
          val p = new Path(path)
          val fs = p.getFileSystem(conf)
          if (fs.exists(p)) fs.delete(p, true)
        } catch { case _: Throwable => () }
      }))
  private def registerSpill(path: String,
                            conf: org.apache.hadoop.conf.Configuration): Unit = {
    spillHookInstalled
    spillPaths.add((path, conf))
  }

  private val MetaFile = "_graft_jaccard_index.json"

  /** On-disk format version. 2 = hash-partitioned postings/sets dirs
    * (`p=J`/`q=J`); bump whenever the layout changes incompatibly so
    * [[load]] can tell format skew from corruption.
    */
  private val FormatVersion = 2


  /** Build a fresh index over `corpus` at `dir` (replacing any previous
    * index there) — also the periodic re-canonicalization path that resets
    * drifted order keys to current document frequencies.
    *
    * @param parts hash-partition count of the postings/sets directories —
    *              the probe-time scan-pruning granularity. Frozen into the
    *              index meta; size it so one partition of the largest
    *              relation is a comfortable scan (corpus tokens / parts).
    */
  def create(corpus: DataFrame, idCol: String, textCol: String,
             threshold: Double, dir: String, parts: Int = 64): JaccardIndex = {
    val spark = corpus.sparkSession
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
    val idx = new JaccardIndex(spark, dir, threshold, parts, 0, 0)
    idx.add(corpus, idCol, textCol)
    idx
  }

  /** [[create]] + first [[JaccardIndex.probeAndAdd]] fused into one commit
    * wave (six concurrent relation writes instead of two sequential add
    * waves) — byte-equal result and on-disk state, bootstrap wall-clock =
    * the slowest single write. Returns (index, first sync's pairs).
    */
  def createWithFirstSync(corpus: DataFrame, batch: DataFrame,
                          idCol: String, textCol: String, threshold: Double,
                          dir: String, parts: Int = 64): (JaccardIndex, DataFrame) = {
    val spark = corpus.sparkSession
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
    val idx = new JaccardIndex(spark, dir, threshold, parts, 0, 0)
    val firstSync = idx.bootstrapFirstSync(corpus, batch, idCol, textCol)
    (idx, firstSync)
  }

  /** Open the committed index at `dir` ([[graft.sources.StateFile.read]]). */
  def load(spark: SparkSession, dir: String): JaccardIndex = {
    val meta = graft.sources.StateFile.read(spark, new Path(dir, MetaFile)) { bytes =>
      val txt = new String(bytes, "UTF-8")
      def field(k: String): Option[String] =
        """"%s"\s*:\s*(-?[\d.Ee+-]+)""".format(k).r.findFirstMatchIn(txt).map(_.group(1))
      def skew(found: String): Nothing = throw new IllegalStateException(
        s"incompatible Jaccard index format under $dir ($found; this build " +
          s"reads fmt $FormatVersion, hash-partitioned postings/sets) — " +
          "rebuild with create()")
      (field("threshold"), field("parts"), field("batches"), field("fmt")) match {
        case (_, _, _, Some(v)) if v.toInt != FormatVersion => skew(s"fmt $v")
        // "base" arrived with compact(); a fmt-2 meta without it is an
        // uncompacted index — base 0, not corruption
        case (Some(t), Some(pp), Some(b), _) => Some((t.toDouble, pp.toInt,
          b.toInt, field("base").map(_.toInt).getOrElse(0)))
        // a parseable meta without "parts" is not corruption — it is the
        // old un-partitioned layout, which this build cannot probe
        case (Some(_), None, Some(_), _) => skew("no fmt/parts fields")
        case _ => None
      }
    }.getOrElse(throw new IllegalStateException(
      s"no Jaccard index under $dir — run create() first"))
    new JaccardIndex(spark, dir, meta._1, meta._2, meta._3, meta._4)
  }

  /** Run independent write thunks concurrently (disjoint target dirs;
    * Spark schedules jobs from several driver threads fine) and await all
    * — a failure in any one fails the call loudly.
    */
  private[operators] def concurrently(thunks: (() => Unit)*): Unit = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    implicit val ec: ExecutionContext = ExecutionContext.global
    Await.result(
      Future.sequence(thunks.map(t => Future(t()))),
      scala.concurrent.duration.Duration.Inf)
    ()
  }

  private def writeMeta(spark: SparkSession, dir: String, threshold: Double,
                        parts: Int, batches: Int, base: Int): Unit =
    IndexMeta.commit(spark, dir, MetaFile,
      s"""{"fmt":$FormatVersion,"threshold":$threshold,"parts":$parts,""" +
        s""""batches":$batches,"base":$base}""")
}
