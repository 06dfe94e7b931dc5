package graft.streaming

import java.nio.file.{Files, Paths}

import graft.sources.StateFile
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Live always-valid experiment monitor — the streaming twin of
  * `StatTests.msprt`, and the reason the mixture SPRT exists at all: the
  * always-valid p is the number an experimenter may READ AS IT UPDATES
  * and stop on, so its natural home is a monitor riding the event stream,
  * not a nightly batch.
  *
  * Architecture is the engine's foreachBatch rider pattern (the
  * maintained-aggregate / index-addBatch shape): each microbatch folds
  * into DURABLE cumulative state and appends one readout. The batch's
  * moments aggregate DISTRIBUTED and map-side-combined — exactly 2 tiny
  * rows ever cross the driver per trigger, so the monitor costs the same
  * at 10⁹ events/batch as at 10³; cumulative state is six exact integers
  * plus the running p. At-least-once safe: a replayed batch id is skipped
  * (state carries the high-water mark), and the state file swaps
  * atomically through [[graft.sources.StateFile]].
  *
  * Exactness: cumulative moments are exact integers (counts/sums as
  * longs, squares as BigInt — a wrap would corrupt the llr silently), and
  * the per-trigger scalar tree is op-for-op the batch operator's double
  * tree, so a stream fed day-batches emits BIT-EQUAL readouts to
  * `StatTests.msprt`'s day rows — MsprtStreamSpec pins the equality.
  * Triggers where an arm still has no data, or where the pooled variance
  * is zero, record state but emit no readout (the batch operator's
  * drop-loudly contract).
  */
object MsprtStream {

  private case class St(batchId: Long, na: Long, sa: Long, ssa: BigInt,
                        nb: Long, sb: Long, ssb: BigInt, pRun: Double)

  private def stPath(dir: String) = new Path(Paths.get(dir, "msprt_state.txt").toUri)

  private def load(spark: SparkSession, dir: String): St =
    StateFile.read(spark, stPath(dir)) { bytes =>
      // every line ends in a newline, so a torn write is one without it
      val txt = new String(bytes, "UTF-8")
      val kv = txt.linesIterator
        .map(_.split("=", 2)).collect { case Array(k, v) => k -> v }.toMap
      if (!txt.endsWith("\n")) None
      else scala.util.Try(St(kv("batch_id").toLong, kv("na").toLong,
        kv("sa").toLong, BigInt(kv("ssa")), kv("nb").toLong, kv("sb").toLong,
        BigInt(kv("ssb")), kv("p_run").toDouble)).toOption
    }.getOrElse(St(-1L, 0L, 0L, BigInt(0), 0L, 0L, BigInt(0), 1.0))

  private def save(spark: SparkSession, dir: String, st: St): Unit =
    StateFile.write(spark, stPath(dir),
      (s"batch_id=${st.batchId}\nna=${st.na}\nsa=${st.sa}\n" +
        s"ssa=${st.ssa}\nnb=${st.nb}\nsb=${st.sb}\nssb=${st.ssb}\n" +
        s"p_run=${st.pRun}\n").getBytes("UTF-8"))

  private def rnd6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Fold one batch of events into the durable state; emit
    * `readout_<batchId>.json` when the cumulative test is defined.
    * Idempotent on batch id — the foreachBatch replay contract.
    */
  private[graft] def foldBatch(stateDir: String, batch: DataFrame,
                                   batchId: Long, unit: Column,
                                   cents: Column, tauCents: Double): Unit = {
    val prev = load(batch.sparkSession, stateDir)
    if (batchId <= prev.batchId) return
    val dec = (c: Column) => c.cast("decimal(19,0)")
    val m = batch
      .select((unit % 2).cast("long").as("v"), cents.cast("long").as("y"))
      .where(col("y").isNotNull)
      .groupBy(col("v"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("s"),
        sum(dec(col("y")) * dec(col("y"))).as("ss"))
      .collect().map { r =>
        r.getLong(0) -> ((r.getLong(1), r.getLong(2),
          BigInt(r.getDecimal(3).toBigInteger)))
      }.toMap
    val (dn0, ds0, dss0) = m.getOrElse(0L, (0L, 0L, BigInt(0)))
    val (dn1, ds1, dss1) = m.getOrElse(1L, (0L, 0L, BigInt(0)))
    var st = St(batchId, prev.na + dn0, prev.sa + ds0, prev.ssa + dss0,
      prev.nb + dn1, prev.sb + ds1, prev.ssb + dss1, prev.pRun)
    if (st.na >= 1 && st.nb >= 1) {
      // op-for-op the batch operator's scalar tree over the same exact ints
      val na = st.na.toDouble; val nb = st.nb.toDouble
      val sa = st.sa.toDouble; val sb = st.sb.toDouble
      val ssa = st.ssa.doubleValue; val ssb = st.ssb.doubleValue
      val dc = sb / nb - sa / na
      val s2 = ((ssa - sa * sa / na) + (ssb - sb * sb / nb)) / (na + nb)
      val vc = s2 * (1.0 / na + 1.0 / nb)
      if (vc > 0.0) {
        val tau2 = tauCents * tauCents
        val llr = 0.5 * math.log(vc / (vc + tau2)) +
          dc * dc * tau2 / (2.0 * vc * (vc + tau2))
        val pAv = rnd6(math.min(1.0, math.exp(-llr)))
        st = st.copy(pRun = math.min(st.pRun, pAv))
        val line = s"""{"batch_id":$batchId,"n_a":${st.na},""" +
          s""""n_b":${st.nb},"mean_delta":${rnd6(dc / 100.0)},""" +
          s""""llr":${rnd6(llr)},"p_always_valid":$pAv,""" +
          s""""p_running":${st.pRun}}"""
        StateFile.write(batch.sparkSession,
          new Path(Paths.get(stateDir, f"readout_$batchId%06d.json").toUri),
          (line + "\n").getBytes("UTF-8"))
      }
    }
    save(batch.sparkSession, stateDir, st)
  }

  /** Start the monitor on a streaming frame of experiment events. */
  def monitor(events: DataFrame, stateDir: String, checkpointDir: String,
              unit: Column, cents: Column, tauCents: Double = 10.0,
              trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    require(tauCents > 0, s"bad tauCents=$tauCents")
    Files.createDirectories(Paths.get(stateDir))
    events.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        foldBatch(stateDir, batch, batchId, unit, cents, tauCents)
      }
      .start()
  }

  /** The monitor's readout history as a frame (one row per trigger that
    * emitted a defined test).
    */
  def readouts(spark: SparkSession, stateDir: String): DataFrame = {
    val ls = Files.list(Paths.get(stateDir))
    val files = try ls.toArray.map(_.toString)
      .filter(_.matches(".*readout_\\d+\\.json$")).sorted
    finally ls.close()
    if (files.isEmpty)
      spark.range(0).select(lit(0L).as("batch_id"), lit(0L).as("n_a"),
        lit(0L).as("n_b"), lit(0.0).as("mean_delta"), lit(0.0).as("llr"),
        lit(0.0).as("p_always_valid"), lit(0.0).as("p_running")).limit(0)
    else spark.read.json(files: _*)
      .select(col("batch_id"), col("n_a"), col("n_b"), col("mean_delta"),
        col("llr"), col("p_always_valid"), col("p_running"))
  }
}
