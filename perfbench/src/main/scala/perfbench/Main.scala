package perfbench

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import graft.{GraftSession, Tables}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Benchmark harness entry, launched by run.py:
  *
  * {{{
  * perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *   --data DIR --work DIR --out FILE --cores N
  *   [--frames DIR] [--passes FILE]
  * }}}
  *
  * Runs one workload in one Spark process (`local[cores]`) and writes a
  * JSON file of raw samples, counters, spans and failures to `--out`.
  * Statistics are computed by run.py. With `--trace 1` tracing is switched
  * on and off in blocks of the measured window (query passes, blocks of
  * transactions; see [[Tracer.tracedBlock]]), so the tracing overhead is
  * measured in the same run as the traced figures.
  */
object Main {

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    def arg(k: String) = args.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    val workload = arg("workload")
    val seed = arg("seed").toLong
    val seconds = arg("seconds").toDouble
    val trace = arg("trace") == "1"
    val cores = arg("cores").toInt
    val work = arg("work")

    val t0 = System.nanoTime()
    val spark = GraftSession.builder(s"local[$cores]", cores)
      .appName(s"perfbench-$workload")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    org.apache.spark.sql.graft.bridge.registerFunctions(spark)
    val sessionS = (System.nanoTime() - t0) / 1e9

    val listener = new EngineListener
    spark.sparkContext.addSparkListener(listener)
    val tracer = new Tracer(spark.sparkContext)
    val res = new Result
    res.set("setup.session_s", sessionS)
    val ctx = Ctx(spark, tracer, listener, res, seed, seconds, trace, cores,
      arg("data"), work)
    val load0 = Context.loadavg()
    val steal0 = Context.cpuTimes()
    try workload match {
      case "cdc_replicate" => CdcReplicate.run(ctx, arg("frames"))
      case "olap_mix" => olapMix(ctx, arg("passes"))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    } catch { case e: Throwable => res.attempt("workload")(throw e) }
    if (trace) res.attempt("kernel passes")(Kernels.run(ctx))
    val steal1 = Context.cpuTimes()
    res.set("context.loadavg_start", load0)
    res.set("context.loadavg_end", Context.loadavg())
    res.set("context.cpu_steal_share", Context.stealShare(steal0, steal1))
    res.set("context.peak_rss_mb", Context.peakRssMb())
    val out = Json.obj(Seq(
      "attempted" -> res.attempted.toString,
      "failures" -> Json.arr(res.failures.map(Json.str)),
      "samples" -> Json.obj(res.samples.map { case (k, v) => k -> Json.nums(v) }),
      "values" -> Json.obj(res.values.map { case (k, v) => k -> Json.num(v) }),
      "spans" -> Json.arr(tracer.all.map(s => Json.arr(Seq(s.id.toString,
        s.parent.toString, Json.str(s.layer), Json.str(s.name),
        s.startNs.toString, s.endNs.toString)))),
      "groups" -> Json.obj(listener.groups().map { case (g, c) =>
        g -> Json.arr(Seq(c.jobs, c.stages, c.tasks).map(_.toString)) })))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(arg("out")), out)
    spark.stop()
  }

  /** Everything a workload needs. */
  final case class Ctx(spark: SparkSession, tracer: Tracer,
                       listener: EngineListener, res: Result, seed: Long,
                       seconds: Double, trace: Boolean, cores: Int,
                       data: String, work: String) {
    /** Close the measured window that began at `startNs` with engine
      * counters `e0`: the live heap, then the window's engine counters. */
    def endWindow(e0: EngineListener#Counts, startNs: Long): Unit = {
      val wallS = (System.nanoTime() - startNs) / 1e9
      res.set("heap_live_mb", HeapWatch.liveMb())
      Thread.sleep(200) // let the listener bus drain the window's events
      engineDelta(e0, listener.snapshot(), wallS)
    }

    private def engineDelta(a: EngineListener#Counts,
                            b: EngineListener#Counts, wallS: Double): Unit = {
      res.set(s"engine.jobs", (b.jobs - a.jobs).toDouble)
      res.set(s"engine.stages", (b.stages - a.stages).toDouble)
      res.set(s"engine.tasks", (b.tasks - a.tasks).toDouble)
      res.set(s"engine.task_cpu_s", (b.cpuNs - a.cpuNs) / 1e9)
      res.set(s"engine.busy_share",
        (b.runMs - a.runMs) / 1e3 / (wallS * cores))
      res.set(s"engine.shuffle_write_mb",
        (b.shuffleWriteBytes - a.shuffleWriteBytes) / 1048576.0)
      res.set(s"engine.spill_mb", (b.spillBytes - a.spillBytes) / 1048576.0)
      res.set(s"engine.gc_ms", (b.gcMs - a.gcMs).toDouble)
      res.set(s"window_s", wallS)
    }
  }

  /** `passesFile`: one line per pass, the pass's query names in order. */
  private def olapMix(ctx: Ctx, passesFile: String): Unit = {
    val Ctx(spark, tracer, _, res, _, _, _, _, data, work) = ctx
    val passes = scala.io.Source.fromFile(passesFile).getLines()
      .map(_.split(" ").toSeq).toSeq
    val names = passes.head.sorted
    // warm-up: every query once, so the measured window does not pay
    // one-time codegen and class loading; setup only, so concurrently, on
    // two threads per core
    val w0 = System.nanoTime()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2 * ctx.cores)
    try {
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      Await.result(Future.traverse(names)(q => Future(res.attempt(s"warm-up $q")(
        QueryMix.runOne(spark, tracer, q, data)))), Duration.Inf)
    } finally pool.shutdown()
    res.set("setup.warmup_s", (System.nanoTime() - w0) / 1e9)
    // scans of every table, three times (run.py takes the median); the
    // warm-up pass has read every table, so these are warm scans
    (1 to 3).foreach { _ =>
      val c0 = System.nanoTime()
      Tables.all.foreach(t => Tables.load(spark, data, t)
        .agg(count(lit(1))).collect())
      res.sample("setup.prepare_s", (System.nanoTime() - c0) / 1e9)
    }
    val e0 = ctx.listener.snapshot()
    val windowStart = System.nanoTime()
    val kept = QueryMix.run(ctx, passes, windowStart + (ctx.seconds * 1e9).toLong)
    ctx.endWindow(e0, windowStart)
    QueryMix.writeForCheck(spark, kept, s"$work/check")
  }
}
