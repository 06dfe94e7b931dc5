package graft

import java.io.{DataInputStream, DataOutputStream, EOFException, IOException}
import java.net.{ServerSocket, Socket}
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.Row
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.sources.{PgOutput, ReplicationClient, SyncManifest}
import graft.sources.PgOutput.{Fixture, RelCol, VNull, VText}
import graft.streaming.PgOutputStream

/** Live-socket replication exchange: a scripted in-process TCP server
  * (built from the existing [[PgOutput.Fixture]] frame writer and the
  * Standby Status writer dual) speaks the replication subset to a real
  * [[ReplicationClient]] over a real socket — START_REPLICATION handshake,
  * frame pump into the per-batch mirror sync, batch-cadence acks,
  * inline deadline-keepalive replies, and a mid-stream disconnect with
  * crash-resume from the durable confirmed-flush LSN. The client keeps the
  * capture layout: mirror `<root>/frames/items`, state in `<root>/frames`.
  */
class ReplicationClientSpec extends SparkSpec {

  private val ns = "public"
  private val itemCols = Seq(
    RelCol("id", 20, -1, isKey = true),
    RelCol("name", 25, -1, isKey = false),
    RelCol("qty", 23, -1, isKey = false))

  private def tx(n: Int, baseLsn: Long, dml: Seq[Array[Byte]]): Seq[Array[Byte]] = {
    val ts = 1700000000000000L + n * 1000000L
    Fixture.begin(baseLsn, baseLsn + 100, ts, 1000 + n) +:
      dml :+ Fixture.commit(baseLsn + 100, baseLsn + 100, baseLsn + 101, ts)
  }

  /** (isRelation, frame): relation frames re-send on EVERY connection (as
    * postgres does — the decoder needs the schema), data frames re-send
    * only past the requested resume LSN.
    */
  // LSN layout note: an XLogData frame's walEnd = walStart + payload
  // length, and tx(n, base) puts its commit at walStart base+100 — so a
  // transaction's frames span ≈ [base, base+130]. Keepalives sit ABOVE
  // the preceding tx's span (they are the batch boundaries whose walEnd
  // becomes the confirmed LSN), and tx bases are 200 apart so the resume
  // filter (walEnd > confirmed) cleanly keeps/drops whole transactions.
  private def script: Seq[(Boolean, Array[Byte])] = {
    val rel = Seq((true, Fixture.relation(5, 7, ns, "items", itemCols)))
    val t1 = tx(1, 100, Seq(
      Fixture.insert(101, 7, Seq(VText("1"), VText("ann"), VText("3"))),
      Fixture.insert(102, 7, Seq(VText("2"), VText("bob"), VText("5")))))
    val k1 = Seq(Fixture.keepalive(250))
    val t2 = tx(2, 300, Seq(
      Fixture.update(301, 7, Seq(VText("1"), VText("anne"), VText("4"))),
      Fixture.insert(302, 7, Seq(VText("3"), VText("cat"), VText("7")))))
    val kDeadline = Seq(Fixture.keepalive(450, replyRequested = true))
    val t3 = tx(3, 500, Seq(
      Fixture.delete(501, 7, Seq(VText("2"), VNull, VNull))))
    val k2 = Seq(Fixture.keepalive(700))
    rel ++ (t1 ++ k1 ++ t2 ++ kDeadline ++ t3 ++ k2).map((false, _))
  }

  private def isDeadlineKeepalive(f: Array[Byte]): Boolean =
    f.length == 18 && f(0) == 'k' && f(17) == 1.toByte

  /** Scripted server: serves the script per connection (resume-filtered by
    * the handshake LSN), abruptly drops connection 1 after `dropAfter`
    * frames, waits for the inline reply after a deadline keepalive, and
    * records every ack's flushed LSN plus each handshake's start LSN.
    */
  private final class FixtureServer(dropAfter: Int) {
    val server = new ServerSocket(0)
    def port: Int = server.getLocalPort
    val startLsns = new ConcurrentLinkedQueue[Long]()
    val ackedFlushLsns = new ConcurrentLinkedQueue[Long]()
    @volatile var deadlineReplied = false
    @volatile var failure: Option[String] = None

    private def awaitAck(prev: Int, what: String): Unit = {
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (ackedFlushLsns.size() <= prev) {
        if (System.nanoTime() > deadline) {
          failure = Some(s"no ack arrived for $what"); return
        }
        Thread.sleep(20)
      }
    }

    private def handle(sock: Socket, conn: Int): Unit = {
      val in = new DataInputStream(sock.getInputStream)
      val out = new DataOutputStream(sock.getOutputStream)
      val (qTag, qBody) = ReplicationClient.readMsg(in)
      if (qTag != 'Q') { failure = Some(s"expected Q, got '$qTag'"); return }
      val cmd = new String(qBody.takeWhile(_ != 0), "UTF-8")
      if (!cmd.startsWith("START_REPLICATION SLOT testslot LOGICAL ")) {
        failure = Some(s"bad handshake: $cmd"); return
      }
      val lsn = ReplicationClient.parseLsn(cmd.split(" ").last)
      startLsns.add(lsn)
      ReplicationClient.writeMsg(out, 'W', Array.emptyByteArray)
      out.flush()
      // drain the client's CopyData acks on a side thread
      val reader = new Thread(() => {
        try while (true) {
          val (t, b) = ReplicationClient.readMsg(in)
          if (t == 'd') PgOutput.decodeStandbyStatus(b).foreach { s =>
            ackedFlushLsns.add(s.flushedLsn)
          }
        } catch { case _: IOException => () }
      })
      reader.setDaemon(true)
      reader.start()
      var sent = 0
      for ((isRel, f) <- script) {
        val resend = isRel || PgOutput.frameWalEnd(f).forall(_ > lsn)
        if (resend && failure.isEmpty) {
          ReplicationClient.writeMsg(out, 'd', f)
          out.flush()
          sent += 1
          if (isDeadlineKeepalive(f)) {
            // the liveness deadline: an inline reply must arrive
            val before = ackedFlushLsns.size()
            awaitAck(before, "the deadline keepalive")
            deadlineReplied = failure.isEmpty
          }
          if (conn == 1 && sent >= dropAfter) return // abrupt drop
        }
      }
      ReplicationClient.writeMsg(out, 'c', Array.emptyByteArray)
      out.flush()
      // linger until the tip ack (the k(700)-bounded final batch) arrives
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (System.nanoTime() < deadline &&
        (ackedFlushLsns.isEmpty || ackedFlushLsns.toArray.last
          .asInstanceOf[Long] < 700L)) Thread.sleep(20)
    }

    val thread = new Thread(() => {
      var conn = 0
      try while (conn < 2) {
        val sock = server.accept()
        conn += 1
        try handle(sock, conn)
        catch { case e: IOException => failure = Some(s"server: $e") }
        finally sock.close()
      } catch { case _: IOException => () } // server.close() unblocks accept
    })
    thread.setDaemon(true)
    thread.start()
  }

  test("live exchange: handshake, pump, batch acks, deadline reply, disconnect-resume") {
    val root = java.nio.file.Files.createTempDirectory("replclient").toString
    // drop connection 1 right after the first keepalive (frame 6: rel +
    // tx1's 4 frames + k(250)) — the client has synced batch 1 durably by
    // then (the ack send is best-effort on the dying socket), so the
    // resume handshake must carry the durable confirmed LSN 250
    val srv = new FixtureServer(dropAfter = 6)
    val target = s"$root/frames"
    val client = new ReplicationClient(spark, "127.0.0.1", srv.port,
      slot = "testslot", table = "items", keys = Seq("id"),
      targetDir = target, nBuckets = 4)
    val queriesStarted = new java.util.concurrent.atomic.AtomicInteger(0)
    val queries = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
        queriesStarted.incrementAndGet()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(queries)
    val frames = try client.run(untilLsn = 700L, maxReconnects = 4)
      finally spark.streams.removeListener(queries)
    srv.server.close()
    srv.thread.join(10000)

    assert(srv.failure.isEmpty, s"server failure: ${srv.failure}")
    // two connections: cold start at 0, resume at the durable LSN
    val starts = srv.startLsns.toArray.map(_.asInstanceOf[Long]).toSeq
    assert(starts.head == 0L, s"first handshake should start at 0: $starts")
    assert(starts.length == 2 && starts(1) == 250L,
      s"resume handshake should carry the confirmed LSN 250: $starts")
    // at-least-once: connection 2 re-serves the relation (always) and the
    // post-250 tail; nothing below the confirmed LSN is re-pumped
    assert(frames >= script.length - 1,
      s"only $frames frames for the ${script.length}-frame script")
    // the deadline keepalive got its inline reply
    assert(srv.deadlineReplied, "no inline reply to the deadline keepalive")
    // acks: flushed LSNs non-decreasing, ending at the stream's tip
    val acks = srv.ackedFlushLsns.toArray.map(_.asInstanceOf[Long]).toSeq
    assert(acks.nonEmpty && acks == acks.sorted, s"acks regressed: $acks")
    assert(acks.last == 700L, s"final ack should be 700: $acks")
    assert(client.confirmedLsn == 700L)
    // the mirror converged to the post-replay FINAL state
    assert(PgOutputStream.readFinal(spark, s"$target/items", Seq("id"))
      .select("id", "name", "qty").orderBy("id").collect().toSeq ==
      Seq(Row(1L, "anne", 4), Row(3L, "cat", 7)))
    // batches sync directly: no streaming query, no spool or checkpoint
    // beside the mirror and its state
    assert(queriesStarted.get() == 0)
    assert(new java.io.File(root).list().toSeq == Seq("frames"))
    assert(new java.io.File(target).listFiles().filter(_.isDirectory)
      .map(_.getName).toSeq == Seq("items"))
    // a batch's id is the durable LSN it starts from: ids rise with the
    // WAL, and the resumed connection's batches continue from the
    // handshake LSN instead of restarting
    val landed = SyncManifest.readCommitted(spark, s"$target/items")
      .select("_version", "_batch_id").orderBy("_version").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(landed.map(_._2) == landed.map(_._2).sorted, s"batch ids regressed: $landed")
    assert(landed.filter(_._1 > starts(1)).forall(_._2 >= starts(1)),
      s"batch ids restarted after the reconnect: $landed")
  }

  test("snapshot bootstrap: seed at the consistent point, stream the tail") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("replboot").toString
    val target = s"$root/frames"
    val mirror = s"$target/items"
    // the snapshot a CREATE_REPLICATION_SLOT's exported snapshot would
    // have produced at consistent point 250: tx1 applied (ids 1, 2)
    val snap = Seq((1L, "ann", 3), (2L, "bob", 5)).toDF("id", "name", "qty")
    PgOutputStream.bootstrapSnapshot(spark, snap, Seq("id"),
      consistentLsn = 250L, targetDir = mirror, table = "items", nBuckets = 4)
    // crash-recovery path: re-running the bootstrap converges (same rows,
    // same version; the LSN advance is monotone-idempotent)
    PgOutputStream.bootstrapSnapshot(spark, snap, Seq("id"),
      consistentLsn = 250L, targetDir = mirror, table = "items", nBuckets = 4)
    assert(PgOutputStream.readConfirmedLsn(spark, target, "items") == 250L)

    // the socket loop now handshakes AT the consistent point: the server
    // resume-filter serves only the post-250 tail (tx2 update+insert,
    // tx3 delete) — pre-snapshot WAL is never re-pumped
    val srv = new FixtureServer(dropAfter = Int.MaxValue)
    val client = new ReplicationClient(spark, "127.0.0.1", srv.port,
      slot = "testslot", table = "items", keys = Seq("id"),
      targetDir = target, nBuckets = 4)
    client.run(untilLsn = 700L, maxReconnects = 2)
    srv.server.close()
    srv.thread.join(10000)
    assert(srv.failure.isEmpty, s"server failure: ${srv.failure}")
    val starts = srv.startLsns.toArray.map(_.asInstanceOf[Long]).toSeq
    assert(starts.head == 250L,
      s"bootstrap handshake should start at the consistent point: $starts")
    // FINAL = snapshot ∪ applied tail: id1 updated, id2 deleted, id3 new
    assert(PgOutputStream.readFinal(spark, mirror, Seq("id"))
      .select("id", "name", "qty").orderBy("id").collect().toSeq ==
      Seq(Row(1L, "anne", 4), Row(3L, "cat", 7)))
    // rewind guard: bootstrapping over the advanced mirror refuses
    val ex = intercept[IllegalArgumentException] {
      PgOutputStream.bootstrapSnapshot(spark, snap, Seq("id"), 250L,
        mirror, "items", 4)
    }
    assert(ex.getMessage.contains("rewind"))
  }
}
