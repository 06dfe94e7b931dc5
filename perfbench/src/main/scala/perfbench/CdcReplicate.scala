package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.util.control.NonFatal

import graft.sources.{Mirror, SyncManifest}
import graft.streaming.{MirrorRunner, PgOutputStream}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}
import org.apache.spark.sql.types.{BinaryType, StructField, StructType}

/** The replication workload: pgoutput frames captured by one long-running
  * `MirrorRunner.runFrames` query (default trigger: the next microbatch
  * starts as soon as the last one ends) into a mirror bootstrapped with a
  * resident snapshot, while one closed-loop client runs FINAL reads.
  *
  * One thread lands pre-rendered transaction files in the landing
  * directory by atomic rename, on the open-loop schedule frames.py wrote
  * with them: an unmeasured lead-in, then the measured steady phase.
  * Freshness of a transaction is the time from its scheduled landing to
  * the first moment `readConfirmedLsn` covers its commit. Catch-up phase:
  * a burst of transactions lands in one file; its ops over the time to
  * confirm its last transaction is the catch-up rate.
  */
object CdcReplicate {
  val Table = "churn"
  /** Rows of the resident snapshot bootstrapped before capture starts. */
  val BootstrapRows = 20000
  val Buckets = 8
  /** Think time of the FINAL-read client between two reads. */
  val ThinkMs = 500L
  /** Interval of the confirmation poller: under 0.3 % of a freshness of
    * several seconds, and it keeps the poller's reads of the LSN file to
    * a few percent of one core. */
  val PollMs = 10L
  /** Transactions per tracing on/off block of a traced run's steady phase. */
  val TraceBlock = 15

  /** One transaction of the load, a line of frames.py's `txns.tsv`:
    * `atMs` is its scheduled landing after the open loop starts. */
  final case class Txn(ops: Int, walEnd: Long, file: String, phase: String,
                       atMs: Double)

  def readSchedule(framesDir: String): Array[Txn] = {
    val src = scala.io.Source.fromFile(s"$framesDir/txns.tsv")
    try src.getLines().map(_.split("\t")).map(a =>
      Txn(a(0).toInt, a(1).toLong, a(2), a(3), a(4).toDouble)).toArray
    finally src.close()
  }

  private def runnerAt(spark: SparkSession, root: String, buckets: Int): MirrorRunner = {
    Files.createDirectories(Paths.get(root))
    val yaml = s"$root/mirror.yaml"
    Files.writeString(Paths.get(yaml),
      s"""mirror: perfbench_cdc
         |source_url: "jdbc:derby:unused"
         |target_dir: $root
         |tables:
         |  - name: $Table
         |    keys: [id]
         |    version_col: seq
         |    buckets: $buckets
         |""".stripMargin)
    MirrorRunner.load(spark, yaml)
  }

  private def frameStream(spark: SparkSession, landing: String): DataFrame = {
    Files.createDirectories(Paths.get(landing))
    spark.readStream.schema(StructType(Seq(StructField("data", BinaryType))))
      .parquet(landing)
  }

  /** The resident snapshot: keys disjoint from the generator's (which
    * start at 1), cast to the column types capture decodes to. */
  private def snapshot(spark: SparkSession, rows: Int, like: StructType): DataFrame = {
    val df = spark.range(rows).select(
      (col("id") + 1000000000L).as("id"), (col("id") + 1).as("seq"),
      (pmod(col("id"), lit(100)) + 1).as("qty"),
      concat(lit("b"), col("id").cast("string")).as("payload"))
    df.select(df.columns.map(c => col(c).cast(like(c).dataType).as(c)): _*)
  }

  private def finalRead(runner: MirrorRunner, tracer: Tracer): (Long, Long, Long) = {
    val q = tracer.span("final_read.build", "readFramesFinal")(
      runner.readFramesFinal(Table)
        .agg(count(lit(1)), coalesce(sum(col("qty").cast("long")), lit(0L))))
    val p0 = System.nanoTime()
    tracer.span("final_read.plan", "executedPlan")(q.queryExecution.executedPlan)
    val p1 = System.nanoTime()
    val r = tracer.span("final_read.exec", "collect")(q.collect()(0))
    (p1 - p0, System.nanoTime() - p1, r.getLong(0))
  }

  private def fsBytesWritten(): Long = {
    import scala.jdk.CollectionConverters._
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .map(_.getBytesWritten).sum
  }

  def run(ctx: Main.Ctx, frames: String): Unit = {
    val Main.Ctx(spark, tracer, _, res, _, seconds, trace, _, _, work) = ctx
    val root = s"$work/cdc"
    val txns = readSchedule(frames)
    // transaction ranges, in WAL order: lead-in, measured steady phase,
    // catch-up burst
    val first = txns.indexWhere(_.phase == "steady")
    val burst = txns.indexWhere(_.phase == "burst")
    val nTxns = txns.length
    require(0 < first && first < burst && txns.drop(burst).forall(_.phase == "burst"),
      s"$frames/txns.tsv: expected lead-in, steady and burst transactions in order")
    val walEnd = txns.map(_.walEnd)
    @volatile var windowStartNs = Long.MaxValue

    // capture progress: one sample per microbatch that read frames and
    // ended inside the measured window
    val progress = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val endNs = System.nanoTime()
        if (p.numInputRows > 0 && endNs >= windowStartNs) {
          def d(k: String): Double = Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
          res.sample("capture.add_batch_ms", d("addBatch"))
          res.sample("capture.list_ms", d("latestOffset"))
          res.sample("capture.plan_ms", d("queryPlanning"))
          res.sample("capture.commit_ms", d("walCommit") + d("commitOffsets"))
          res.sample("capture.frames_per_batch", p.numInputRows.toDouble)
          res.sample("capture.trigger_ms", d("triggerExecution"))
          tracer.record("capture", "microbatch",
            endNs - (d("triggerExecution") * 1e6).toLong, endNs)
        }
      }
    }

    // ── setup: mirror bootstrap, three times into fresh mirrors ────────
    val runner = runnerAt(spark, s"$root/mirror", Buckets)
    val stateDir = s"$root/mirror/frames"
    val like = spark.read.parquet(s"$frames/expected.parquet").schema
    (1 to 3).foreach { rep =>
      val dir = if (rep == 3) s"$stateDir/$Table" else s"$root/boot$rep/frames/$Table"
      val b0 = System.nanoTime()
      res.attempt("bootstrap")(PgOutputStream.bootstrapSnapshot(spark,
        snapshot(spark, BootstrapRows, like), Seq("id"), 1L, dir, Table,
        nBuckets = Buckets))
      res.sample("setup.prepare_s", (System.nanoTime() - b0) / 1e9)
    }

    // stage every frame file next to the landing dir (same file system,
    // so landing is one atomic rename), then start capture; its start-up
    // lasts until its first trigger has found no data and it waits
    val staging = s"$root/staging"
    val landing = s"$root/landing"
    Files.createDirectories(Paths.get(staging))
    Files.createDirectories(Paths.get(landing))
    val files = txns.map(_.file).distinct
    files.foreach(f => Files.copy(Paths.get(s"$frames/$f"), Paths.get(s"$staging/$f")))
    val measuredBytes = txns.drop(first).map(_.file).distinct
      .map(f => Files.size(Paths.get(s"$staging/$f"))).sum
    spark.streams.addListener(progress)
    val q0 = System.nanoTime()
    val query = runner.runFrames(frameStream(spark, landing),
      trigger = Trigger.ProcessingTime(0L))
    val startDeadline = q0 + 60000000000L
    while (!query.status.message.startsWith("Waiting") && query.isActive &&
      System.nanoTime() < startDeadline) Thread.sleep(1)
    if (!query.status.message.startsWith("Waiting"))
      throw new IllegalStateException("capture did not start within 60 s" +
        query.exception.fold("")(e => s" (query failed: $e)"))
    res.set("setup.query_start_s", (System.nanoTime() - q0) / 1e9)

    // ── confirmation poller and FINAL-read client ──────────────────────
    val sched = new Array[Long](nTxns)
    val confirmedAt = new Array[Long](nTxns)
    @volatile var landed = 0
    @volatile var confirmed = 0
    @volatile var polling, reading = true
    @volatile var polls, pollMisses, commits = 0L
    @volatile var backlogMax = 0
    // the reader samples the steady phase, until its last transaction is
    // confirmed
    @volatile var steady = false
    val missKinds = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val poller = new Thread(() => {
      var last = 0L
      while (polling) {
        // the engine swaps the LSN file by delete + rename: a read in the
        // gap fails (FileNotFoundException, among others) or returns 0.
        // Such a miss is counted; it cannot confirm anything, and the next
        // poll, 10 ms later, reads the file.
        val lsn =
          try PgOutputStream.readConfirmedLsn(spark, stateDir, Table)
          catch { case NonFatal(e) =>
            missKinds.add(e.getClass.getSimpleName)
            -1L
          }
        val now = System.nanoTime()
        polls += 1
        if (lsn < last) pollMisses += 1
        else if (lsn > last) { commits += 1; last = lsn }
        var c = confirmed
        while (c < landed && walEnd(c) <= last) { confirmedAt(c) = now; c += 1 }
        confirmed = c
        backlogMax = math.max(backlogMax, landed - c)
        Thread.sleep(PollMs)
      }
    }, "perfbench-lsn-poller")
    val reader = new Thread(() => {
      while (reading) {
        res.attempt("final read") {
          val sampled = steady
          val tag = if (!trace) "" else if (tracer.enabled) "traced." else "untraced."
          val m0 = System.nanoTime()
          tracer.span("mirror", "SyncManifest.read")(SyncManifest.read(spark, s"$stateDir/$Table"))
          val m1 = System.nanoTime()
          val (planNs, execNs, rows) = tracer.span("final_read", "final_read")(finalRead(runner, tracer))
          val m2 = System.nanoTime()
          if (sampled && steady) {
            res.sample("manifest.read_ms", (m1 - m0) / 1e6)
            res.sample("final_read_ms", (m2 - m1) / 1e6)
            if (trace) res.sample(s"${tag}final_read_ms", (m2 - m1) / 1e6)
            res.sample("final_read.plan_ms", planNs / 1e6)
            res.sample("final_read.exec_ms", execNs / 1e6)
          }
          if (rows < BootstrapRows)
            res.fail(s"FINAL read saw $rows rows, below the $BootstrapRows bootstrapped")
        }
        Thread.sleep(ThinkMs)
      }
    }, "perfbench-final-reader")

    /** Land transaction `i`'s file at `at`; it holds transactions up to `upTo`. */
    def land(i: Int, upTo: Int, at: Long): Unit = res.attempt("landing") {
      val wait = at - System.nanoTime()
      if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
      val f = txns(i).file
      tracer.span("loadgen", "land")(Files.move(Paths.get(s"$staging/$f"),
        Paths.get(s"$landing/$f"), StandardCopyOption.ATOMIC_MOVE))
      res.sample("loadgen.late_ms", (System.nanoTime() - at) / 1e6)
      landed = upTo
    }
    def awaitConfirmed(n: Int, what: String): Boolean = {
      val deadline = System.nanoTime() + (math.max(30.0, 1.5 * seconds) * 1e9).toLong
      while (confirmed < n && System.nanoTime() < deadline && query.isActive)
        Thread.sleep(5)
      val ok = confirmed >= n
      if (!ok) res.fail(s"$what: confirmed $confirmed of $n transactions" +
        query.exception.fold("")(e => s" (query failed: $e)"))
      ok
    }

    // ── lead-in: the open-loop schedule starts, unmeasured, so that the
    // window opens on capture in its steady cycle ─────────────────────
    poller.start()
    reader.start()
    val start = System.nanoTime() + 100000000L
    (0 until burst).foreach(i => sched(i) = start + (txns(i).atMs * 1e6).toLong)
    (0 until first).foreach(i => land(i, i + 1, sched(i)))
    val windowStart = sched(first)
    val lead = windowStart - System.nanoTime()
    if (lead > 0) Thread.sleep(lead / 1000000L)

    // ── measured window ────────────────────────────────────────────────
    windowStartNs = windowStart
    val e0 = ctx.listener.snapshot()
    val bytes0 = fsBytesWritten()
    val commits0 = commits
    backlogMax = 0
    steady = true
    // steady phase, open loop; a traced run traces half of the blocks of
    // transactions (by schedule), and the whole catch-up phase
    def tracedTxn(i: Int) = trace && tracer.tracedBlock((i - first) / TraceBlock)
    (first until burst).foreach { i =>
      tracer.enabled = tracedTxn(i)
      land(i, i + 1, sched(i))
    }
    val steadyOk = awaitConfirmed(burst, "steady phase")
    steady = false
    reading = false
    reader.join()
    tracer.enabled = trace
    if (steadyOk) {
      res.set("capture.backlog_txns_max", backlogMax.toDouble)
      // catch-up: the burst lands in one rename on an idle capture
      val c0 = System.nanoTime()
      (burst until nTxns).foreach(sched(_) = c0)
      land(burst, nTxns, c0)
      if (awaitConfirmed(nTxns, "catch-up burst"))
        res.sample("catchup_ops_per_s",
          txns.drop(burst).map(_.ops).sum / ((confirmedAt(nTxns - 1) - c0) / 1e9))
    }
    polling = false
    poller.join()
    val wallS = (System.nanoTime() - windowStart) / 1e9
    ctx.endWindow(e0, windowStart)
    tracer.enabled = false
    query.stop()
    spark.streams.removeListener(progress)

    // ── per-transaction outcomes ───────────────────────────────────────
    (first until burst).foreach { i =>
      res.attempted += 1
      if (confirmedAt(i) == 0L) res.fail(s"transaction $i never confirmed")
      else res.sample("freshness_ms", (confirmedAt(i) - sched(i)) / 1e6)
    }
    // transactions confirmed by one commit share their fate: the
    // independent freshness samples are the commits
    res.set("freshness_commits",
      confirmedAt.slice(first, burst).filter(_ != 0L).distinct.length.toDouble)
    val busyS = res.samples.get("capture.trigger_ms").map(_.sum / 1e3).getOrElse(0.0)
    res.set("capture.idle_share", math.max(0.0, 1.0 - busyS / wallS))
    res.set("capture.batches", res.samples.get("capture.trigger_ms").map(_.size).getOrElse(0).toDouble)
    res.set("mirror.commits", (commits - commits0).toDouble)
    res.set("mirror.write_amp", (fsBytesWritten() - bytes0).toDouble / measuredBytes)
    // every poll is a read of the engine's public API
    res.attempted += polls
    res.set("context.lsn_polls", polls.toDouble)
    res.set("context.lsn_poll_misses", pollMisses.toDouble)
    missKinds.forEach(k => res.set(s"context.lsn_miss.$k", 1.0))

    // ── mirror storage, after the window (traced runs) ─────────────────
    if (trace) {
      val mirrorDir = s"$stateDir/$Table"
      val visible = SyncManifest.listVisible(spark, mirrorDir)
      val bytes = visible.map(f => Files.size(Paths.get(s"$mirrorDir/$f"))).sum
      val live = runner.readFramesFinal(Table).count()
      res.set("mirror.files_visible", visible.size.toDouble)
      res.set("mirror.bytes_per_live_row", bytes.toDouble / math.max(1L, live))
    }

    // ── correctness, outside the timed window ──────────────────────────
    val typed = Seq(col("id").cast("long").as("id"), col("seq").cast("long").as("seq"),
      col("qty").cast("int").as("qty"), col("payload").cast("string").as("payload"))
    val exp = spark.read.parquet(s"$frames/expected.parquet")
      .unionByName(snapshot(spark, BootstrapRows, like)).select(typed: _*)
    val fin = runner.readFramesFinal(Table).select(typed: _*)
    res.attempt("FINAL equals reference state") {
      val missing = exp.exceptAll(fin).count()
      val extra = fin.exceptAll(exp).count()
      if (missing + extra > 0)
        res.fail(s"FINAL differs from the reference state: $missing rows " +
          s"missing, $extra unexpected")
    }
    res.attempt("Mirror.auditBuckets") {
      val bad = Mirror.auditBuckets(exp, fin, Seq("id"), "seq").where(!col("ok")).count()
      if (bad > 0) res.fail(s"auditBuckets: $bad mismatched buckets")
    }
  }
}
