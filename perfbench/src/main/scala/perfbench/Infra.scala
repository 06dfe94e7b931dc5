package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call from the benchmark into a layer of the engine. */
final case class Span(id: Long, parent: Long, layer: String, name: String,
                      startNs: Long, endNs: Long)

/** In-memory span recorder. Spans wrap calls from the benchmark into one
  * engine module; `parent` is the span open on the same thread when the
  * call began (0 = root). While a span is open its id is the thread's
  * Spark job group, so the [[EngineListener]] can attribute jobs, stages
  * and tasks to it. Disabled, [[span]] is a plain call.
  */
final class Tracer(sc: SparkContext) {
  @volatile var enabled = false
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val current = new ThreadLocal[java.lang.Long] {
    override def initialValue(): java.lang.Long = 0L
  }

  def span[A](layer: String, name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent: Long = current.get()
      current.set(id)
      sc.setJobGroup(s"span-$id", s"$layer:$name")
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, parent, layer, name, t0, System.nanoTime()))
        current.set(parent)
        if (parent == 0L) sc.clearJobGroup()
        else sc.setJobGroup(s"span-$parent", "")
      }
    }

  /** A span measured elsewhere (e.g. a streaming microbatch reported by
    * its progress event), recorded as a root span. */
  def record(layer: String, name: String, startNs: Long, endNs: Long): Unit =
    if (enabled)
      spans.add(Span(ids.incrementAndGet(), 0L, layer, name, startNs, endNs))

  /** Whether block `i` of a traced run is traced: blocks go untraced,
    * traced, traced, untraced, ... so a linear drift over the run does
    * not show up as tracing overhead. */
  def tracedBlock(i: Int): Boolean = ((i + 1) / 2) % 2 == 1

  def all: Seq[Span] = {
    val b = Seq.newBuilder[Span]
    spans.forEach(s => b += s)
    b.result()
  }
}

/** Engine counters from Spark's public listener events: jobs, stages,
  * tasks, executor run/CPU time, shuffle write, spill and GC, in total and
  * per job group (= per benchmark span, see [[Tracer]]).
  */
final class EngineListener extends SparkListener {
  final class Counts {
    var jobs, stages, tasks = 0L
    var runMs, cpuNs, shuffleWriteBytes, spillBytes, gcMs = 0L
    def copy(): Counts = {
      val c = new Counts
      c.jobs = jobs; c.stages = stages; c.tasks = tasks; c.runMs = runMs
      c.cpuNs = cpuNs; c.shuffleWriteBytes = shuffleWriteBytes
      c.spillBytes = spillBytes; c.gcMs = gcMs
      c
    }
  }
  private val total = new Counts
  private val byGroup = mutable.Map.empty[String, Counts]
  private val stageGroup = mutable.Map.empty[Int, String]

  private def group(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")

  private def of(g: String): Counts = byGroup.getOrElseUpdate(g, new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = group(e.properties)
    total.jobs += 1; of(g).jobs += 1
    e.stageIds.foreach(s => stageGroup(s) = g)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val g = stageGroup.getOrElse(e.stageInfo.stageId, "")
      total.stages += 1; of(g).stages += 1
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val g = stageGroup.getOrElse(e.stageId, "")
    val m = e.taskMetrics
    Seq(total, of(g)).foreach { c =>
      c.tasks += 1
      if (m != null) {
        c.runMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.gcMs += m.jvmGCTime
      }
    }
  }

  def snapshot(): Counts = synchronized(total.copy())
  def groups(): Map[String, Counts] = synchronized(
    byGroup.map { case (k, v) => k -> v.copy() }.toMap)
}

/** Minimal JSON writer for the result file run.py reads. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.result()
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  def arr(vs: Iterable[String]): String = vs.mkString("[", ", ", "]")
  def nums(vs: Iterable[Double]): String = arr(vs.map(num))
}

/** What one workload run hands back to run.py: raw samples (percentiles
  * are computed there), counters, correctness outcomes and failures.
  */
final class Result {
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val values = mutable.LinkedHashMap.empty[String, Double]
  val failures = mutable.ArrayBuffer.empty[String]
  var attempted = 0L

  def sample(name: String, v: Double): Unit = synchronized {
    samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v
  }
  def set(name: String, v: Double): Unit = synchronized { values(name) = v }
  /** Count one operation; a thrown failure is recorded, never retried. */
  def attempt[A](what: String)(body: => A): Option[A] = {
    synchronized { attempted += 1 }
    try Some(body)
    catch { case e: Throwable =>
      fail(s"$what: $e")
      None
    }
  }
  def fail(msg: String): Unit = synchronized {
    failures += msg
    System.err.println(s"[perfbench] FAILED $msg")
  }
}

/** Machine context recorded with every run (never used to discard one). */
object Context {
  def loadavg(): Double =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.split(" ")(0).toDouble
    catch { case _: Throwable => -1.0 }

  /** (total, steal) jiffies from /proc/stat's cpu line. */
  def cpuTimes(): (Long, Long) =
    try {
      val f = scala.io.Source.fromFile("/proc/stat").getLines().next()
        .split("\\s+").drop(1).map(_.toLong)
      (f.sum, if (f.length > 7) f(7) else 0L)
    } catch { case _: Throwable => (0L, 0L) }

  def stealShare(a: (Long, Long), b: (Long, Long)): Double =
    if (b._1 <= a._1) 0.0 else (b._2 - a._2).toDouble / (b._1 - a._1)

  /** The process's peak resident set (VmHWM), in MiB. */
  def peakRssMb(): Double =
    try scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
      .getOrElse(-1.0)
    catch { case _: Throwable => -1.0 }
}

/** Heap the workload keeps live: heap in use right after a full garbage
  * collection. Unlike the resident set or the occupancy after a young
  * collection, this does not depend on how far the collector let the
  * heap grow before it ran. Spark frees broadcast and shuffle state
  * asynchronously once a collection has found it unreachable, so each
  * reading collects twice with a pause between; the median of three
  * readings is reported.
  */
object HeapWatch {
  def liveMb(): Double = {
    val heap = java.lang.management.ManagementFactory.getMemoryMXBean
    val mb = (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(100)
      System.gc()
      heap.getHeapMemoryUsage.getUsed / 1048576.0
    }.sorted
    mb(1)
  }
}
