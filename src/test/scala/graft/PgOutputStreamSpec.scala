package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.sources.PgOutput.{Fixture, RelCol, VNull, VText}
import graft.streaming.PgOutputStream

/** The continuous pgoutput capture loop: microbatched frames → decoded
  * changes → mirror, with the relation registry surviving ACROSS batches
  * (bare-DML batches decode under schemas learned earlier) and through
  * restart — each AvailableNow run below is a fresh query over the same
  * capture root + checkpoint, the reference flow-worker's stop/start
  * cycle. Table `t` mirrors to `<root>/t`; its state sits in `<root>`.
  */
class PgOutputStreamSpec extends SparkSpec {
  import spark.implicits._

  case class Frame(data: Array[Byte])

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

  test("capture loop: registry persists across batches and restarts") {
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("pgstream").toString
    val target = s"$root/mirror"
    val mirror = s"$target/items"
    val dead = s"$root/dead"
    val ckpt = s"$root/ckpt"
    val input = MemoryStream[Frame]

    def runBatch(): Unit = {
      val q = PgOutputStream.mirrorFramesMulti(input.toDF(), "data",
        Seq(PgOutputStream.TableSpec("items", Seq("id"), nBuckets = 4)),
        target, ckpt, deadRoot = Some(dead))
      q.awaitTermination()
    }

    // batch 1: Relation + two inserts
    input.addData(
      (Seq(Fixture.relation(5, 7, ns, "items", itemCols)) ++
        tx(1, 100, Seq(
          Fixture.insert(101, 7, Seq(VText("1"), VText("ann"), VText("3"))),
          Fixture.insert(102, 7, Seq(VText("2"), VText("bob"), VText("5"))))))
        .map(Frame): _*)
    runBatch()
    assert(PgOutputStream.readFinal(spark, mirror, Seq("id"))
      .select("id", "name", "qty").orderBy("id").collect().toSeq ==
      Seq(Row(1L, "ann", 3), Row(2L, "bob", 5)))

    // batch 2, NEW query run (restart): BARE DML — no Relation frame;
    // decodes only via the persisted registry. Update key 1, delete key 2,
    // plus one undecodable frame that dead-letters instead of poisoning
    // the batch.
    input.addData(
      (tx(2, 200, Seq(
        Fixture.update(201, 7, Seq(VText("1"), VText("anne"), VText("4"))),
        Fixture.delete(202, 7, Seq(VText("2"), VNull, VNull)),
        Fixture.unknown(203, 'Z'))))
        .map(Frame): _*)
    runBatch()
    assert(PgOutputStream.readFinal(spark, mirror, Seq("id"))
      .select("id", "name", "qty").collect().toSeq == Seq(Row(1L, "anne", 4)))
    val deadRows = spark.read.parquet(s"$dead/items")
    assert(deadRows.count() == 1)
    assert(deadRows.select("reason").head().getString(0).contains("'Z'"))

    // batch 3: a mid-stream ALTER (new Relation version) + rows on both
    // sides of it — older rows (including pre-restart mirror rows) read
    // null in the new column
    val v2Cols = itemCols :+ RelCol("note", 25, -1, isKey = false)
    input.addData(
      (tx(3, 300, Seq(
        Fixture.insert(301, 7, Seq(VText("3"), VText("cat"), VText("9"))))) ++
        Seq(Fixture.relation(350, 7, ns, "items", v2Cols)) ++
        tx(4, 400, Seq(
          Fixture.insert(401, 7, Seq(VText("4"), VText("dog"), VText("2"), VText("hi"))))))
        .map(Frame): _*)
    runBatch()
    val fin = PgOutputStream.readFinal(spark, mirror, Seq("id"))
    assert(fin.select("id", "name", "qty", "note").orderBy("id").collect().toSeq ==
      Seq(Row(1L, "anne", 4, null), Row(3L, "cat", 9, null), Row(4L, "dog", 2, "hi")))
    // registry now holds both schema versions, LSN-ordered
    val reg = PgOutputStream.readRegistry(spark, target, "items")
    assert(reg.map(_.walStart).sorted == Seq(5L, 350L))
    assert(reg.maxBy(_.walStart).cols.map(_.name) ==
      Seq("id", "name", "qty", "note"))

    // batch 4: TRUNCATE then reinsert one key in the same transaction —
    // keys mirrored in EARLIER batches tombstone at the truncate LSN
    // (no per-key deletes on the wire), the same-batch reinsert survives
    // with its higher LSN, and a replay of the batch converges
    input.addData(
      (tx(5, 500, Seq(
        Fixture.truncate(501, Seq(7)),
        Fixture.insert(502, 7, Seq(VText("3"), VText("cat2"), VText("1"), VNull)))))
        .map(Frame): _*)
    runBatch()
    assert(PgOutputStream.readFinal(spark, mirror, Seq("id"))
      .select("id", "name", "qty").orderBy("id").collect().toSeq ==
      Seq(Row(3L, "cat2", 1)))
  }

  test("capture loop: unchanged-TOAST updates heal from the committed mirror") {
    import graft.sources.PgOutput.VUnchanged
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("pgtoast").toString
    val target = s"$root/mirror"
    val ckpt = s"$root/ckpt"
    val input = MemoryStream[Frame]

    def runBatch(): Unit = {
      val q = PgOutputStream.mirrorFramesMulti(input.toDF(), "data",
        Seq(PgOutputStream.TableSpec("items", Seq("id"), nBuckets = 4)),
        target, ckpt)
      q.awaitTermination()
    }

    // batch 1: the big value is transmitted once
    input.addData(
      (Seq(Fixture.relation(5, 7, ns, "items", itemCols)) ++
        tx(1, 100, Seq(
          Fixture.insert(101, 7, Seq(VText("1"), VText("huge-payload"), VText("1"))))))
        .map(Frame): _*)
    runBatch()

    // batch 2: bare toasted update — `name` arrives as `u`, and must heal
    // from the MIRROR image (the transmitting row is a batch behind)
    input.addData(
      tx(2, 200, Seq(
        Fixture.update(201, 7, Seq(VText("1"), VUnchanged, VText("2")))))
        .map(Frame): _*)
    runBatch()
    val fin = PgOutputStream.readFinal(spark, s"$target/items", Seq("id"))
    assert(fin.select("id", "name", "qty").collect().toSeq ==
      Seq(Row(1L, "huge-payload", 2)))
    // the stored image is healed, not just the read: the toast flag is gone
    assert(fin.select("_unchanged_toast").head().isNullAt(0))
  }

  test("standby feedback: confirmed LSN tracks durable batches, deadline keepalives get replies, re-ack is a no-op") {
    import graft.sources.PgOutput
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("pgfeedback").toString
    val target = s"$root/mirror"
    val input = MemoryStream[Frame]
    val specs = Seq(PgOutputStream.TableSpec("items", Seq("id"), nBuckets = 4))
    def runBatch(): Unit = {
      val q = PgOutputStream.mirrorFramesMulti(input.toDF(), "data", specs,
        target, s"$root/ckpt", deadRoot = Some(s"$root/dead"))
      q.awaitTermination()
    }

    // nothing confirmed before the first durable batch
    assert(PgOutputStream.readConfirmedLsn(spark, target, "items") == 0L)

    // batch 1: relation + one tx + a trailing server keepalive at 900 —
    // the confirmed-flush LSN advances to the batch's max frame walEnd
    // (the keepalive's 900: consumed WAL counts even without row data)
    input.addData(
      (Seq(Fixture.relation(5, 7, ns, "items", itemCols)) ++
        tx(1, 100, Seq(
          Fixture.insert(101, 7, Seq(VText("1"), VText("ann"), VText("3"))))) ++
        Seq(Fixture.keepalive(900))).map(Frame): _*)
    runBatch()
    val lsn1 = PgOutputStream.readConfirmedLsn(spark, target, "items")
    assert(lsn1 == 900L)

    // the feedback message round-trips through the writer dual: all three
    // LSNs report the confirmed position, client clock survives the
    // PG-epoch encoding exactly
    val ts = 1700000000123456L
    val fb = PgOutputStream.feedback(spark, target, "items", ts)
    assert(PgOutput.decodeStandbyStatus(fb) ==
      Right(PgOutput.StandbyStatus(900L, 900L, 900L, ts, replyRequested = false)))

    // scripted exchange: a reply-requested keepalive (the server's
    // liveness deadline) MUST be answered inline with the current status;
    // an ordinary keepalive or a data frame needs no inline reply
    val deadline = Fixture.keepalive(950, replyRequested = true)
    val reply = PgOutputStream.replyTo(deadline, spark, target, "items", ts)
    assert(reply.isDefined)
    assert(PgOutput.decodeStandbyStatus(reply.get).toOption.get.flushedLsn == 900L)
    assert(PgOutputStream.replyTo(Fixture.keepalive(950), spark, target,
      "items", ts).isEmpty)
    assert(PgOutputStream.replyTo(
      Fixture.insert(960, 7, Seq(VText("9"), VText("x"), VText("1"))),
      spark, target, "items", ts).isEmpty)

    // crash-replay: re-acking an already-confirmed (or older) LSN is a
    // no-op — the stored position never regresses or churns
    assert(!PgOutputStream.advanceConfirmedLsn(spark, target, "items", 900L))
    assert(!PgOutputStream.advanceConfirmedLsn(spark, target, "items", 850L))
    assert(PgOutputStream.readConfirmedLsn(spark, target, "items") == 900L)

    // batch 2 advances monotonically
    input.addData(
      tx(2, 2000, Seq(
        Fixture.update(2001, 7, Seq(VText("1"), VText("anne"), VText("4")))))
        .map(Frame): _*)
    runBatch()
    assert(PgOutputStream.readConfirmedLsn(spark, target, "items") > 900L)

    // safety direction: WITHOUT a dead-letter store, a batch that drops
    // an undecodable frame must NOT confirm past it (acking WAL that
    // never landed anywhere loses it forever; with deadDir the frame is
    // durably parked and confirming is correct — exercised above)
    val target2 = s"$root/mirror2"
    val input2 = MemoryStream[Frame]
    input2.addData(
      (Seq(Fixture.relation(5, 7, ns, "items", itemCols)) ++
        tx(1, 100, Seq(
          Fixture.insert(101, 7, Seq(VText("1"), VText("ann"), VText("3"))))) ++
        Seq(Fixture.unknown(800, 'Z'))).map(Frame): _*)
    PgOutputStream.mirrorFramesMulti(input2.toDF(), "data", specs,
      target2, s"$root/ckpt2", deadRoot = None).awaitTermination()
    assert(PgOutputStream.readConfirmedLsn(spark, target2, "items") == 0L)
  }

  test("multi-table capture: one frame stream, one decode pass, N mirrors") {
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("pgmulti").toString
    val target = s"$root/mirror"
    val dead = s"$root/dead"
    val input = MemoryStream[Frame]
    val specs = Seq(
      PgOutputStream.TableSpec("items", Seq("id"), nBuckets = 4),
      PgOutputStream.TableSpec("orders", Seq("oid"), nBuckets = 4))
    val orderCols = Seq(
      RelCol("oid", 20, -1, isKey = true),
      RelCol("amount", 23, -1, isKey = false))

    // every job of the run carries the query's job group, including the
    // jobs of the per-table syncs that run on other threads
    def runBatch(): Int = {
      val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          groups.add(String.valueOf(j.properties.getProperty("spark.jobGroup.id")))
      }
      spark.sparkContext.addSparkListener(listener)
      val q = try {
        val q = PgOutputStream.mirrorFramesMulti(input.toDF(), "data", specs,
          target, s"$root/ckpt", deadRoot = Some(dead))
        q.awaitTermination()
        Thread.sleep(300) // listener delivery lag (starts precede return)
        q
      } finally spark.sparkContext.removeSparkListener(listener)
      val seen = groups.toArray.toSeq
      assert(seen.nonEmpty && seen.forall(_ == q.runId.toString),
        s"jobs outside the query's job group ${q.runId}: " +
          seen.groupBy(identity).map { case (g, n) => s"$g x${n.size}" })
      seen.size
    }

    // batch 1: BOTH relations + one interleaved tx touching both tables,
    // plus one broken frame (must reach BOTH tables' dead-letters)
    input.addData(
      (Seq(Fixture.relation(5, 7, ns, "items", itemCols),
        Fixture.relation(6, 8, ns, "orders", orderCols)) ++
        tx(1, 100, Seq(
          Fixture.insert(101, 7, Seq(VText("1"), VText("ann"), VText("3"))),
          Fixture.insert(102, 8, Seq(VText("10"), VText("500"))),
          Fixture.insert(103, 7, Seq(VText("2"), VText("bob"), VText("5"))),
          Fixture.unknown(104, 'Z'))))
        .map(Frame): _*)
    val jobs1 = runBatch()
    assert(PgOutputStream.readFinal(spark, s"$target/items", Seq("id"))
      .select("id", "name", "qty").orderBy("id").collect().toSeq ==
      Seq(Row(1L, "ann", 3), Row(2L, "bob", 5)))
    assert(PgOutputStream.readFinal(spark, s"$target/orders", Seq("oid"))
      .select("oid", "amount").collect().toSeq == Seq(Row(10L, 500)))
    // the broken frame dead-lettered PER TABLE
    assert(spark.read.parquet(s"$dead/items").count() == 1)
    assert(spark.read.parquet(s"$dead/orders").count() == 1)
    // both tables' confirmed LSNs advanced (dead frames durably parked)
    assert(PgOutputStream.readConfirmedLsn(spark, target, "items") > 0L)
    assert(PgOutputStream.readConfirmedLsn(spark, target, "orders") > 0L)

    // batch 2 after RESTART (fresh query, same checkpoint): bare DML for
    // both tables — relids resolve via the persisted registries
    input.addData(
      tx(2, 300, Seq(
        Fixture.update(301, 7, Seq(VText("1"), VText("anne"), VText("4"))),
        Fixture.delete(302, 8, Seq(VText("10"), VNull))))
        .map(Frame): _*)
    runBatch()
    assert(PgOutputStream.readFinal(spark, s"$target/items", Seq("id"))
      .select("id", "name", "qty").orderBy("id").collect().toSeq ==
      Seq(Row(1L, "anne", 4), Row(2L, "bob", 5)))
    assert(PgOutputStream.readFinal(spark, s"$target/orders", Seq("oid"))
      .count() == 0)

    // DECODED ONCE — pin the mechanism: tagRelids assigns every DML frame
    // to exactly its owning table's subset, so per-table parse decodes
    // only its own frames plus the shared control frames; another table's
    // DML is never decoded twice. Assert the split on the raw batch-1
    // frame set directly.
    import graft.sources.PgOutput
    val b1 = (Seq(Fixture.relation(5, 7, ns, "items", itemCols),
      Fixture.relation(6, 8, ns, "orders", orderCols)) ++
      tx(1, 100, Seq(
        Fixture.insert(101, 7, Seq(VText("1"), VText("ann"), VText("3"))),
        Fixture.insert(102, 8, Seq(VText("10"), VText("500"))),
        Fixture.insert(103, 7, Seq(VText("2"), VText("bob"), VText("5"))),
        Fixture.unknown(104, 'Z'))))
    val taggedRows = PgOutput.tagRelids(
        b1.toDF("data"), "data")
      .select("relids", "rel_name").collect()
      .map(r => (r.getSeq[Int](0), Option(r.getString(1))))
    // 2 relations (named, single-relid), 3 DML (single-relid), 3 control-
    // or-broken (begin/commit/unknown → empty = every table's subset)
    assert(taggedRows.count(_._2.isDefined) == 2)
    assert(taggedRows.collect { case (rs, Some(n)) => (n, rs) }.toMap ==
      Map("items" -> Seq(7), "orders" -> Seq(8)))
    assert(taggedRows.count(r => r._2.isEmpty && r._1 == Seq(7)) == 2) // items DML
    assert(taggedRows.count(r => r._2.isEmpty && r._1 == Seq(8)) == 1) // orders DML
    assert(taggedRows.count(_._1.isEmpty) == 3) // begin, commit, unknown
    // ...and pin the driver-job budget of the multiplexed batch (measured
    // 30: 2 tagging jobs + two concurrent per-table sync lanes over the
    // pinned tagged frames) so a regression to per-table RAW re-parsing
    // or per-target collects shows up as a count jump
    assert(jobs1 <= 38, s"multiplexed batch ran $jobs1 driver jobs (budget " +
      "38, measured 30)")
  }

  test("multi-table capture: unmatched-relid DML is counted + dead-lettered") {
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("pgmulti2").toString
    val dead = s"$root/dead"
    val input = MemoryStream[Frame]
    // the spec names "items" only — the stream ALSO carries a table the
    // spec misses ("orderz", the typo scenario): its DML must not vanish
    // silently; it lands in the dead root's _unmatched_relid subdir
    val specs = Seq(PgOutputStream.TableSpec("items", Seq("id"), nBuckets = 4))
    val orderCols = Seq(
      RelCol("oid", 20, -1, isKey = true),
      RelCol("amount", 23, -1, isKey = false))
    input.addData(
      (Seq(Fixture.relation(5, 7, ns, "items", itemCols),
        Fixture.relation(6, 8, ns, "orderz", orderCols)) ++
        tx(1, 100, Seq(
          Fixture.insert(101, 7, Seq(VText("1"), VText("ann"), VText("3"))),
          Fixture.insert(102, 8, Seq(VText("10"), VText("500"))),
          Fixture.insert(103, 8, Seq(VText("11"), VText("700"))))))
        .map(Frame): _*)
    PgOutputStream.mirrorFramesMulti(input.toDF(), "data", specs,
      s"$root/mirror", s"$root/ckpt", deadRoot = Some(dead))
      .awaitTermination()
    // the configured table synced normally
    assert(PgOutputStream.readFinal(spark, s"$root/mirror/items", Seq("id"))
      .count() == 1)
    // BOTH orderz DML frames parked with the reason; the Relation frame
    // itself is a description, not data — only DML is dead-lettered
    val parked = spark.read.parquet(s"$dead/_unmatched_relid")
    assert(parked.count() == 2)
    assert(parked.select("_reason").distinct().collect().toSeq ==
      Seq(Row("unmatched_relid")))
    assert(parked.select("relids").collect()
      .forall(_.getSeq[Int](0) == Seq(8)))
  }
}
