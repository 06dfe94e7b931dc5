package graft.streaming

import java.nio.file.{Files, Paths}

import graft.operators.StatTests
import graft.sources.StateFile
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Live percentile-bootstrap CI monitor — the streaming twin of
  * `StatTests.poissonBootstrapCi`, feasible ONLY because that operator's
  * Poisson weights are deterministic per (unit, replicate): the replicate
  * sums Σ_u w(u,b)·x_u and Σ_u w(u,b) are then ADDITIVE over arriving
  * data (an event (u, y) contributes w(u,b)·y; a unit contributes its
  * weight once, on first sight), so a monitor can maintain all B
  * replicate means incrementally and re-emit the interval every trigger —
  * a bootstrap CI that updates live, which a randomness-based bootstrap
  * fundamentally cannot do without replaying history.
  *
  * Architecture: the engine's foreachBatch rider (the MsprtStream shape).
  * Per microbatch, ONE distributed pass compresses events to the batch's
  * unit grain; first-seen units are resolved with an anti-join against
  * the PERSISTED seen-units relation (parquet, one overwrite-by-batch-id
  * delta per trigger — the idempotent-replay convention); the ×B weight
  * fan-out runs on the batch's unit grain, map-side combined, and exactly
  * B tiny rows cross the driver per trigger. Durable scalar state is the
  * B (Σw, Σwx) pairs (sums as BigInt — a wrap would corrupt the interval
  * silently) plus (n_units, Σx), swapped atomically through
  * [[graft.sources.StateFile]]. At-least-once safe: a
  * replayed batch id re-OVERWRITES its own units delta and is skipped by
  * the state's high-water mark.
  *
  * Exactness: the readout is computed op-for-op as the batch operator's
  * tree — replicate means as the same double division of the same exact
  * integers, the same (mean, replicate-id) sort, the same ⌊B·α⌋
  * order-statistic pick — so a stream fed any batch split of a dataset
  * emits a final readout BIT-EQUAL to `poissonBootstrapCi` on the whole
  * of it (BootstrapStreamSpec pins the equality, mid-stream and final).
  */
object BootstrapStream {

  private case class St(batchId: Long, nUnits: Long, sx: Long,
                        sw: Array[Long], swx: Array[BigInt])

  private def stPath(dir: String) =
    new Path(Paths.get(dir, "bootstrap_state.txt").toUri)

  private def load(spark: SparkSession, dir: String, b: Int): St = {
    val st = StateFile.read(spark, stPath(dir)) { bytes =>
      // every line ends in a newline, so a torn write is one without it
      val txt = new String(bytes, "UTF-8")
      val kv = txt.linesIterator
        .map(_.split("=", 2)).collect { case Array(k, v) => k -> v }.toMap
      if (!txt.endsWith("\n")) None
      else scala.util.Try(St(kv("batch_id").toLong, kv("n_units").toLong,
        kv("sx").toLong, kv("sw").split(",").map(_.toLong),
        kv("swx").split(",").map(BigInt(_)))).toOption
    }.getOrElse(St(-1L, 0L, 0L, Array.fill(b)(0L), Array.fill(b)(BigInt(0))))
    require(st.sw.length == b && st.swx.length == b,
      s"state holds ${st.sw.length} replicates, monitor configured for $b " +
        "— B is part of the monitor's identity and cannot change mid-run")
    st
  }

  private def save(spark: SparkSession, dir: String, st: St): Unit =
    StateFile.write(spark, stPath(dir),
      (s"batch_id=${st.batchId}\nn_units=${st.nUnits}\n" +
        s"sx=${st.sx}\nsw=${st.sw.mkString(",")}\n" +
        s"swx=${st.swx.mkString(",")}\n").getBytes("UTF-8"))

  private def rnd6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Fold one batch into the durable state and emit
    * `readout_<batchId>.json` when the interval is defined. Idempotent on
    * batch id.
    */
  private[graft] def foldBatch(stateDir: String, batch: DataFrame,
                               batchId: Long, unit: Column, cents: Column,
                               b: Int, alphaPermille: Int): Unit = {
    val spark = batch.sparkSession
    val prev = load(spark, stateDir, b)
    if (batchId <= prev.batchId) return
    val unitsDir = Paths.get(stateDir, "units").toString
    // batch unit grain: one distributed pass over the events
    val perUnit = batch
      .select(unit.cast("long").as("u"), cents.cast("long").as("y"))
      .where(col("y").isNotNull)
      .groupBy(col("u")).agg(sum(col("y")).as("dx"), count(lit(1)).as("ne"))
      .localCheckpoint(true)
    // first-seen units: anti-join against the committed seen relation
    // (deltas from THIS batch id excluded twice over by the overwrite)
    val seen = listUnitFiles(unitsDir, exceptBatch = batchId) match {
      case Nil => spark.range(0).select(col("id").as("u"))
      case fs => spark.read.parquet(fs: _*).select(col("u"))
    }
    val newUnits = perUnit.select(col("u"))
      .join(seen, Seq("u"), "left_anti").localCheckpoint(true)
    // Δswx_b = Σ_batch-units w(u,b)·Δx_u  (every event counts);
    // Δsw_b   = Σ_new-units  w(u,b)       (a unit weighs in once)
    val reps = perUnit
      .select(col("u"), col("dx"),
        explode(sequence(lit(0L), lit(b.toLong - 1L))).as("rep"))
      .withColumn("w", StatTests.poissonW(
        StatTests.mixU01(col("u") * b.toLong + col("rep"))))
    val dSwx = reps.groupBy(col("rep"))
      .agg(sum(col("w").cast("decimal(19,0)") *
        col("dx").cast("decimal(19,0)")).as("d"))
      .collect().map(r => r.getLong(0).toInt ->
        BigInt(r.getDecimal(1).toBigInteger)).toMap
    val dSw = newUnits
      .select(col("u"), explode(sequence(lit(0L), lit(b.toLong - 1L)))
        .as("rep"))
      .withColumn("w", StatTests.poissonW(
        StatTests.mixU01(col("u") * b.toLong + col("rep"))))
      .groupBy(col("rep")).agg(sum(col("w")).as("d"))
      .collect().map(r => r.getLong(0).toInt -> r.getLong(1)).toMap
    val deltas = perUnit.agg(coalesce(sum(col("dx")), lit(0L)).as("sx"))
      .collect()(0).getLong(0)
    val dN = newUnits.count()
    // commit the units delta BEFORE the scalar state: a crash between the
    // two replays this batch id, re-overwrites the same delta, and the
    // high-water mark still says "not folded" — never a double count
    newUnits.coalesce(1).write.mode("overwrite")
      .parquet(s"$unitsDir/batch_$batchId")
    val st = St(batchId, prev.nUnits + dN, prev.sx + deltas,
      prev.sw.zipWithIndex.map { case (v, i) => v + dSw.getOrElse(i, 0L) },
      prev.swx.zipWithIndex.map { case (v, i) =>
        v + dSwx.getOrElse(i, BigInt(0)) })
    if (st.nUnits > 0) {
      // op-for-op the batch operator's pick: survivors (Σw > 0) sorted by
      // (mean, replicate id); lo/hi at the fixed ⌊B·α⌋-based ranks
      val means = (0 until b).iterator
        .filter(i => st.sw(i) > 0L)
        .map(i => (st.swx(i).doubleValue / st.sw(i).toDouble, i))
        .toArray.sortBy(identity)
      val loRn = b * alphaPermille / 1000 + 1
      val hiRn = b - b * alphaPermille / 1000
      if (means.length >= hiRn) {
        val mean = rnd6(st.sx.toDouble / st.nUnits.toDouble / 100.0)
        val lo = rnd6(means(loRn - 1)._1 / 100.0)
        val hi = rnd6(means(hiRn - 1)._1 / 100.0)
        val line = s"""{"batch_id":$batchId,"n_units":${st.nUnits},""" +
          s""""mean":$mean,"ci_lo":$lo,"ci_hi":$hi}"""
        StateFile.write(spark,
          new Path(Paths.get(stateDir, f"readout_$batchId%06d.json").toUri),
          (line + "\n").getBytes("UTF-8"))
      }
    }
    save(spark, stateDir, st)
  }

  private def listUnitFiles(unitsDir: String, exceptBatch: Long): List[String] = {
    val root = Paths.get(unitsDir)
    if (!Files.exists(root)) return Nil
    val ls = Files.list(root)
    try ls.toArray.map(_.toString)
      .filter(p => p.matches(".*/batch_\\d+$") &&
        !p.endsWith(s"/batch_$exceptBatch"))
      .toList
    finally ls.close()
  }

  /** Start the monitor on a streaming frame. `alphaPermille` per side. */
  def monitor(events: DataFrame, stateDir: String, checkpointDir: String,
              unit: Column, cents: Column, b: Int = 200,
              alphaPermille: Int = 25,
              trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    require(b >= 20 && b <= 10000, s"bad b=$b")
    require(alphaPermille >= 1 && alphaPermille * 2 < 1000,
      s"bad alphaPermille=$alphaPermille")
    Files.createDirectories(Paths.get(stateDir))
    events.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        foldBatch(stateDir, batch, batchId, unit, cents, b, alphaPermille)
      }
      .start()
  }

  /** The monitor's readout history as a frame. */
  def readouts(spark: SparkSession, stateDir: String): DataFrame = {
    val ls = Files.list(Paths.get(stateDir))
    val files = try ls.toArray.map(_.toString)
      .filter(_.matches(".*readout_\\d+\\.json$")).sorted
    finally ls.close()
    if (files.isEmpty)
      spark.range(0).select(lit(0L).as("batch_id"), lit(0L).as("n_units"),
        lit(0.0).as("mean"), lit(0.0).as("ci_lo"), lit(0.0).as("ci_hi"))
        .limit(0)
    else spark.read.json(files: _*)
      .select(col("batch_id"), col("n_units"), col("mean"), col("ci_lo"),
        col("ci_hi"))
  }
}
