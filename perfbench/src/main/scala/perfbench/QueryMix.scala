package perfbench

import scala.collection.mutable

import graft.SparkEntry
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** Closed-loop query workload with one client: passes over a fixed list
  * of `SparkEntry.queries`, each pass in the order given by run.py (drawn
  * from the seed), until the measured window ends. Each query is timed
  * as build (calling the entry, including any eager side jobs it runs) +
  * plan (forcing the executed plan) + execute (collecting the result rows).
  */
object QueryMix {
  /** Prefix of every sample name of this workload. */
  val Prefix = "olap"
  /** Complete passes a window always runs. */
  val MinPasses = 2

  /** First completed result of each query, kept for the oracle check. */
  final case class Kept(schema: StructType, rows: Array[Row])

  final class Timing(val buildNs: Long, val planNs: Long, val execNs: Long) {
    def totalMs: Double = (buildNs + planNs + execNs) / 1e6
  }

  def runOne(spark: SparkSession, tracer: Tracer, name: String,
             dataDir: String): (Timing, Kept) = {
    val fn = SparkEntry.queries(name)
    tracer.span("entry", s"$Prefix.$name") {
      val t0 = System.nanoTime()
      val df = tracer.span("entry.build", name)(fn(spark, dataDir))
      val t1 = System.nanoTime()
      tracer.span("entry.plan", name)(df.queryExecution.executedPlan)
      val t2 = System.nanoTime()
      val rows = tracer.span("entry.exec", name)(df.collect())
      val t3 = System.nanoTime()
      (new Timing(t1 - t0, t2 - t1, t3 - t2), Kept(df.schema, rows))
    }
  }

  /** Run complete passes while the next one is expected to end by
    * `deadlineNs` (always at least [[MinPasses]]); returns the first result
    * of every query. Only complete passes are measured, so every run
    * samples each query equally often. A traced run traces half of the
    * passes and tags its latency samples `traced.` / `untraced.`.
    */
  def run(ctx: Main.Ctx, passes: Seq[Seq[String]],
          deadlineNs: Long): Map[String, Kept] = {
    val Main.Ctx(spark, tracer, _, res, _, _, trace, _, dataDir, _) = ctx
    val kept = mutable.LinkedHashMap.empty[String, Kept]
    val rowCounts = mutable.Map.empty[String, Int]
    val orders = passes.iterator
    val passNs = mutable.ArrayBuffer.empty[Long]
    var buildMs, planMs, execMs = 0.0
    def nextFits: Boolean = passNs.size < MinPasses || {
      val sorted = passNs.sorted
      System.nanoTime() + sorted(sorted.size / 2) <= deadlineNs
    }
    while (orders.hasNext && nextFits) {
      // a traced run traces half of the passes
      tracer.enabled = trace && tracer.tracedBlock(passNs.size)
      val tag = if (!trace) "" else if (tracer.enabled) "traced." else "untraced."
      val p0 = System.nanoTime()
      orders.next().foreach { q =>
        res.attempt(s"$Prefix query $q") {
          val (t, k) = runOne(spark, tracer, q, dataDir)
          res.sample(s"$Prefix.query_ms", t.totalMs)
          if (trace) res.sample(s"$tag$Prefix.query_ms", t.totalMs)
          res.sample(s"$Prefix.$q.ms", t.totalMs)
          buildMs += t.buildNs / 1e6; planMs += t.planNs / 1e6
          execMs += t.execNs / 1e6
          rowCounts.get(q) match {
            case Some(n) if n != k.rows.length =>
              res.fail(s"$Prefix query $q returned ${k.rows.length} rows, " +
                s"earlier pass $n")
            case _ => rowCounts(q) = k.rows.length
          }
          if (!kept.contains(q)) kept(q) = k
        }
      }
      passNs += System.nanoTime() - p0
      res.sample(s"$Prefix.pass_s", passNs.last / 1e9)
    }
    tracer.enabled = false
    res.set(s"$Prefix.passes", passNs.size.toDouble)
    res.set(s"$Prefix.queries_per_s", passes.take(passNs.size).map(_.size).sum / (passNs.sum / 1e9))
    // per-pass sums of the three phases
    res.set(s"$Prefix.build_ms", buildMs / passNs.size)
    res.set(s"$Prefix.plan_ms", planMs / passNs.size)
    res.set(s"$Prefix.exec_ms", execMs / passNs.size)
    kept.toMap
  }

  /** Write each kept result as one parquet file, plus the oracle SQL of
    * every query, for run.py's DuckDB comparison. */
  def writeForCheck(spark: SparkSession, kept: Map[String, Kept],
                    outDir: String): Unit = {
    import scala.jdk.CollectionConverters._
    kept.foreach { case (q, k) =>
      spark.createDataFrame(k.rows.toSeq.asJava, k.schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/$q")
    }
    val oracle = kept.keys.toSeq.sorted.map(q =>
      q -> SparkEntry.oracleSql.get(q).map(Json.str).getOrElse("null"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$outDir/oracle_sql.json"), Json.obj(oracle))
  }
}
