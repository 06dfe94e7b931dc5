package graft.sources

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream, EOFException, IOException}
import java.net.Socket

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Encoders, SparkSession}

import graft.streaming.PgOutputStream

/** Live-socket logical-replication client — the piece that closes the loop
  * between the wire and the mirror: the reference stack's flow-worker holds
  * a replication connection continuously (docker-compose.yml:21-28),
  * pumping XLogData frames one way and Standby Status Updates the other.
  * Everything below the socket already exists in this library
  * ([[PgOutput]] decode + ack codec, [[PgOutputStream]] per-batch sync +
  * durable confirmed-flush LSN); this class owns the connection lifecycle.
  * State follows the capture layout: the mirror is `targetDir/<table>`,
  * the registry and confirmed-flush LSN sit in `targetDir`.
  *
  * Wire framing: the minimal FE/BE subset a replication session uses after
  * authentication — `Q` (simple query: the START_REPLICATION command),
  * `W` (CopyBothResponse), `d` (CopyData, both directions), `c` (CopyDone).
  * Each message is `tag byte + int32 length (incl. itself) + body`, the
  * standard postgres framing. The CopyData payloads are exactly the
  * `w`/`k` frames [[PgOutput.decodeFrame]] reads and the `r` acks
  * [[PgOutput.standbyStatusUpdate]] writes — nothing new on the inside.
  *
  * Loop contract (the parts a resumable capture must get right):
  *  - the handshake's START_REPLICATION position is the DURABLE
  *    confirmed-flush LSN ([[PgOutputStream.readConfirmedLsn]]) — a crash
  *    or disconnect resumes exactly at the last acked position, and the
  *    server re-sends the unacked tail (at-least-once; the mirror's
  *    replay-idempotent upsert converges);
  *  - each batch of frames syncs through the same per-batch body the
  *    streaming loop runs ([[PgOutputStream.mirrorFramesMulti]]), with the
  *    confirmed LSN it starts from as its batch id (durable, never
  *    decreasing across reconnects) — the ack is sent only AFTER that
  *    sync returns, i.e. after the mirror commit and the LSN file are
  *    durable; acking first could lose WAL;
  *  - a server keepalive with the reply-requested bit is answered
  *    INLINE ([[PgOutputStream.replyTo]]) — it is the server's liveness
  *    deadline, and batch cadence is too slow for it;
  *  - a keepalive also closes the current batch: the server controls sync
  *    cadence by interleaving them (the PeerDB sync-interval analog), and
  *    `batchMaxFrames` bounds batch memory regardless.
  *
  * Scale: the client is a single-connection driver-side pump by protocol
  * design (one slot = one ordered WAL stream); throughput work — decode,
  * merge, commit — all happens in the Spark jobs the sync runs, so the
  * socket loop only moves bytes. DML for any table but `table` is counted
  * and, with `deadRoot` set, dead-lettered under
  * `deadRoot/_unmatched_relid`.
  */
final class ReplicationClient(spark: SparkSession, host: String, port: Int,
                              slot: String, table: String, keys: Seq[String],
                              targetDir: String, nBuckets: Int = 16,
                              batchMaxFrames: Int = 256,
                              deadRoot: Option[String] = None,
                              clock: () => Long = () => System.currentTimeMillis() * 1000L) {
  import ReplicationClient._

  private val sync = PgOutputStream.syncFrames(spark, "frame",
    Seq(PgOutputStream.TableSpec(table, keys, nBuckets)), targetDir, deadRoot)

  /** The durable confirmed-flush LSN (0 = nothing confirmed yet). */
  def confirmedLsn: Long = PgOutputStream.readConfirmedLsn(spark, targetDir, table)

  /** Pump until the confirmed-flush LSN reaches `untilLsn`, reconnecting
    * (and resuming from the durable LSN) across disconnects. Returns the
    * number of frames received. Fails loudly after `maxReconnects`
    * connections without reaching the target — a stuck server must not
    * spin forever.
    */
  def run(untilLsn: Long, maxReconnects: Int = 10): Int = {
    var total = 0
    var tries = 0
    while (confirmedLsn < untilLsn) {
      if (tries > maxReconnects)
        throw new IOException(s"confirmed LSN ${confirmedLsn} still below " +
          s"$untilLsn after $tries connections")
      tries += 1
      try total += runConnection()
      catch { case _: IOException => () } // dropped mid-stream: resume
    }
    total
  }

  /** One connection: handshake at the durable LSN, pump frames, sync+ack
    * at batch cadence. Returns on clean CopyDone or EOF; throws on a
    * protocol violation or a mid-read disconnect.
    */
  private def runConnection(): Int = {
    val sock = new Socket(host, port)
    var received = 0
    try {
      sock.setTcpNoDelay(true)
      val in = new DataInputStream(new BufferedInputStream(sock.getInputStream))
      val out = new DataOutputStream(new BufferedOutputStream(sock.getOutputStream))
      val startLsn = confirmedLsn
      writeMsg(out, 'Q',
        (s"START_REPLICATION SLOT $slot LOGICAL ${lsnString(startLsn)}")
          .getBytes("UTF-8") :+ 0.toByte)
      out.flush()
      val (tag0, _) = readMsg(in)
      if (tag0 != 'W')
        throw new IOException(s"expected CopyBothResponse, got '$tag0'")
      val buf = ArrayBuffer.empty[Array[Byte]]
      def flush(ackOut: Option[DataOutputStream]): Unit = if (buf.nonEmpty) {
        syncBatch(buf.toSeq)
        buf.clear()
        // ack AFTER the durable sync; best-effort on a dying socket (the
        // durable LSN then carries the position into the next handshake)
        ackOut.foreach { o =>
          try { writeMsg(o, 'd', PgOutputStream.feedback(spark, targetDir,
            table, clock())); o.flush() }
          catch { case _: IOException => () }
        }
      }
      try {
        while (true) {
          val (tag, body) = readMsg(in)
          tag match {
            case 'd' =>
              received += 1
              buf += body
              // the server's liveness deadline cannot wait for the batch
              PgOutputStream.replyTo(body, spark, targetDir, table, clock())
                .foreach { r => writeMsg(out, 'd', r); out.flush() }
              if ((body.nonEmpty && body(0) == 'k') || buf.size >= batchMaxFrames)
                flush(Some(out))
            case 'c' => // CopyDone: clean end of stream
              flush(Some(out))
              return received
            case other =>
              throw new IOException(s"unexpected message tag '$other'")
          }
        }
        received
      } catch {
        case _: EOFException =>
          // dropped connection: sync what arrived (replay-idempotent),
          // resume from the durable LSN on the next connection
          flush(None)
          received
      }
    } finally sock.close()
  }

  /** Sync one batch; returns after the mirror commit + LSN advance are
    * durable.
    */
  private def syncBatch(frames: Seq[Array[Byte]]): Unit =
    sync(spark.createDataset(frames)(Encoders.BINARY).toDF("frame"), confirmedLsn)
}

object ReplicationClient {

  /** postgres-style LSN text (`X/Y` hex halves). */
  def lsnString(lsn: Long): String =
    f"${(lsn >> 32) & 0xffffffffL}%X/${lsn & 0xffffffffL}%X"

  /** Parse `X/Y` back to the 64-bit LSN (the fixture server's half). */
  def parseLsn(s: String): Long = s.split("/") match {
    case Array(hi, lo) =>
      (java.lang.Long.parseLong(hi, 16) << 32) | java.lang.Long.parseLong(lo, 16)
    case _ => throw new IllegalArgumentException(s"bad LSN '$s'")
  }

  /** `tag + int32(len incl. itself) + body` — the standard FE/BE framing,
    * shared with the in-process fixture server.
    */
  def writeMsg(out: DataOutputStream, tag: Char, body: Array[Byte]): Unit = {
    out.writeByte(tag.toInt)
    out.writeInt(4 + body.length)
    out.write(body)
  }

  /** Read one framed message; EOFException on a closed peer. */
  def readMsg(in: DataInputStream): (Char, Array[Byte]) = {
    val tag = in.readByte().toChar
    val len = in.readInt()
    if (len < 4 || len > (1 << 26))
      throw new IOException(s"bad frame length $len")
    val body = new Array[Byte](len - 4)
    in.readFully(body)
    (tag, body)
  }
}
