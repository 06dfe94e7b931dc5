package graft

import graft.streaming.{MirrorConfig, MirrorRunner}
import java.nio.file.Files
import java.util.Properties
import org.apache.spark.sql.functions.col

/** The config-file-driven mirror lifecycle, end-to-end against a LIVE
  * embedded Derby source: a two-table mirror is defined by nothing but a
  * YAML spec — snapshot bootstrap, poll rounds, warehouse sink, and the
  * PeerDB-style lifecycle verbs (status/pause/resume/drop) all derive from
  * it, restart-safe (a fresh runner over the same file resumes exactly).
  */
class MirrorRunnerSpec extends SparkSpec {

  case class Frame(data: Array[Byte])

  private lazy val dbHome = {
    val home = Files.createTempDirectory("graft_mrderby").toString
    System.setProperty("derby.system.home", home)
    home
  }
  private lazy val url = { dbHome; s"jdbc:derby:mrdb;create=true" }
  private def props: Properties = {
    val p = new Properties()
    p.setProperty("driver", "org.apache.derby.iapi.jdbc.AutoloadedDriver")
    p
  }
  private def exec(sqls: String*): Unit = jdbcExec(url, sqls: _*)

  private def writeConfig(root: String, sink: Boolean): String = {
    val cfgPath = s"$root/mirror.yaml"
    val sinkLines = if (sink)
      s"""sink_url: "$url"
         |sink_dual: derby
         |""".stripMargin else ""
    java.nio.file.Files.writeString(java.nio.file.Paths.get(cfgPath),
      s"""# two-table mirror, the quickstart_prepare_peers shape
         |mirror: mr_test
         |source_url: "$url"
         |target_dir: $root/mirror
         |$sinkLines
         |tables:
         |  - name: mr_cust
         |    keys: [ID]
         |    version_col: SEQ
         |    buckets: 4
         |    target: wh_cust
         |  - name: mr_ord
         |    keys: [OID]
         |    version_col: SEQ
         |    buckets: 4
         |    target: wh_ord
         |""".stripMargin)
    cfgPath
  }

  test("config parser: full shape, defaults, loud errors with line numbers") {
    val c = MirrorConfig.parse(
      """mirror: m1
        |source_url: jdbc:x
        |target_dir: /tmp/t
        |sink_dual: derby
        |sink_evolve: true
        |reconcile_deletes: true
        |tables:
        |  - name: a
        |    keys: [k1, k2]
        |    version_col: v
        |    exclude: [secret]
        |  - name: b
        |    keys: [k]
        |    version_col: v2
        |    buckets: 8
        |    target: wh_b
        |""".stripMargin)
    assert(c.mirror === "m1" && c.reconcileDeletes)
    assert(c.sinkDual === graft.sinks.JdbcSink.DerbyDual)
    assert(c.sinkEvolve, "sink_evolve: true must parse")
    assert(!MirrorConfig.parse(
      """mirror: m
        |source_url: u
        |target_dir: d
        |tables:
        |  - name: a
        |    keys: [k]
        |    version_col: v
        |""".stripMargin).sinkEvolve,
      "sink_evolve defaults false")
    assert(c.tables.map(_.name) === Seq("a", "b"))
    assert(c.tables(0).keys === Seq("k1", "k2"))
    assert(c.tables(0).exclude === Seq("secret"))
    assert(c.tables(0).buckets === 64 && c.tables(0).target === "a")
    assert(c.tables(1).buckets === 8 && c.tables(1).target === "wh_b")
    // the pgoutput twin derives from the same spec
    assert(c.toFrameSpecs.map(s => (s.table, s.keys, s.nBuckets)) ===
      Seq(("a", Seq("k1", "k2"), 64), ("b", Seq("k"), 8)))

    def err(cfg: String): String =
      intercept[IllegalArgumentException](MirrorConfig.parse(cfg)).getMessage
    assert(err("mirror: m\nbogus_key: v").contains("line 2"))
    assert(err("""mirror: m
                 |source_url: u
                 |target_dir: d
                 |tables:
                 |  - name: a
                 |    keys: [k]
                 |""".stripMargin).contains("version_col"))
    assert(err("""mirror: m
                 |source_url: u
                 |target_dir: d
                 |tables:
                 |  - name: a
                 |    keys: k
                 |    version_col: v
                 |""".stripMargin).contains("inline"))
  }

  test("two-table mirror from a config file alone: bootstrap, poll, sink, " +
    "pause/resume/drop, restart-safe, FINAL-correct") {
    val root = Files.createTempDirectory("mrroot").toString
    exec("CREATE TABLE mr_cust (id BIGINT PRIMARY KEY, seq BIGINT NOT NULL, " +
      "payload VARCHAR(64))",
      "CREATE TABLE mr_ord (oid BIGINT PRIMARY KEY, seq BIGINT NOT NULL, " +
        "payload VARCHAR(64))")
    exec((1L to 5L).map(i => s"INSERT INTO mr_cust VALUES ($i, $i, 'c$i')"): _*)
    exec((1L to 3L).map(i => s"INSERT INTO mr_ord VALUES ($i, $i, 'o$i')"): _*)
    // warehouse targets pre-exist, as the reference's ClickHouse targets do
    exec("CREATE TABLE wh_cust (id BIGINT PRIMARY KEY, seq BIGINT, " +
      "payload VARCHAR(64), \"_peerdb_version\" BIGINT)",
      "CREATE TABLE wh_ord (oid BIGINT PRIMARY KEY, seq BIGINT, " +
        "payload VARCHAR(64), \"_peerdb_version\" BIGINT)")

    val cfgPath = writeConfig(root, sink = true)
    val runner = MirrorRunner.load(spark, cfgPath, props)

    // fresh → bootstrap snapshot both tables in one round
    assert(runner.status().map(s => s.table -> s.state).toMap ===
      Map("mr_cust" -> "fresh", "mr_ord" -> "fresh"))
    runner.runOnce()
    assert(runner.status().forall(_.state == "active"))
    assert(runner.readFinal("mr_cust").count() === 5L)
    assert(runner.readFinal("mr_ord").count() === 3L)
    // the sink delivered to the per-table warehouse targets named in config
    assert(spark.read.jdbc(url, "wh_cust", props).count() === 5L)
    assert(spark.read.jdbc(url, "wh_ord", props).count() === 3L)

    // source moves: update + inserts; one round converges the FINAL read
    exec("UPDATE mr_cust SET payload = 'c1x', seq = 10 WHERE id = 1",
      "INSERT INTO mr_ord VALUES (4, 11, 'o4')")
    runner.runOnce()
    val c1 = runner.readFinal("mr_cust").where(col("ID") === 1)
      .select("PAYLOAD").collect()(0).getString(0)
    assert(c1 === "c1x")
    assert(runner.readFinal("mr_ord").count() === 4L)
    assert(spark.read.jdbc(url, "wh_ord", props).count() === 4L)

    // pause is persisted and skips capture for THAT table only
    runner.pause("mr_cust")
    exec("UPDATE mr_cust SET payload = 'c2x', seq = 12 WHERE id = 2",
      "INSERT INTO mr_ord VALUES (5, 13, 'o5')")
    runner.runOnce()
    assert(runner.readFinal("mr_cust").where(col("ID") === 2)
      .select("PAYLOAD").collect()(0).getString(0) === "c2")
    assert(runner.readFinal("mr_ord").count() === 5L)

    // RESTART: a brand-new runner over the same config file resumes the
    // same on-disk state — cust still paused, ord active at its watermark
    val runner2 = MirrorRunner.load(spark, cfgPath, props)
    val st2 = runner2.status().map(s => s.table -> s).toMap
    assert(st2("mr_cust").state === "paused")
    assert(st2("mr_ord").state === "active")
    assert(st2("mr_ord").watermark === Some(13L))

    // resume catches the paused table up from its persisted watermark
    runner2.resume("mr_cust")
    runner2.runOnce()
    assert(runner2.readFinal("mr_cust").where(col("ID") === 2)
      .select("PAYLOAD").collect()(0).getString(0) === "c2x")

    // drop: the table's mirror is gone; next round re-snapshots (resync)
    runner2.drop("mr_ord")
    assert(runner2.status().find(_.table == "mr_ord").get.state === "fresh")
    runner2.runOnce()
    assert(runner2.readFinal("mr_ord").count() === 5L)

    // unknown table names are refused by every verb
    intercept[IllegalArgumentException](runner2.pause("nope"))
    intercept[IllegalArgumentException](runner2.drop("nope"))
  }

  test("audit verb: per-bucket row-level fingerprints catch a stale mirror " +
    "row behind GREEN counts (the fenced-poll lost-update shape); " +
    "auditAll reports it per table; a capture round clears it") {
    val root = Files.createTempDirectory("mraudit").toString
    exec("CREATE TABLE mr_aud (id BIGINT PRIMARY KEY, seq BIGINT NOT NULL, " +
      "payload VARCHAR(64))")
    exec((1L to 40L).map(i => s"INSERT INTO mr_aud VALUES ($i, $i, 'p$i')"): _*)
    val cfgPath = s"$root/audit.yaml"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(cfgPath),
      s"""mirror: mr_audit
         |source_url: "$url"
         |target_dir: $root/mirror
         |tables:
         |  - name: mr_aud
         |    keys: [ID]
         |    version_col: SEQ
         |    buckets: 4
         |""".stripMargin)
    val runner = MirrorRunner.load(spark, cfgPath, props)
    runner.runOnce()

    // converged mirror: every bucket ok, both sides fully counted
    val a0 = runner.audit("mr_aud", buckets = 8).collect()
    assert(a0.forall(_.getAs[Boolean]("ok")), s"clean mirror must audit ok")
    assert(a0.map(_.getAs[Long]("src_rows")).sum === 40L)
    assert(a0.map(_.getAs[Long]("mirror_rows")).sum === 40L)

    // PLANT the stale row: bump ONE source row's version with NO capture
    // round — the mirror still holds the old version. Row counts match on
    // every bucket, which is exactly the shape the count/lag monitors
    // cannot see (audit reads no watermark state at all, so a lag-green
    // stale row — the r18 unfenced-poll bug — flags identically).
    exec("UPDATE mr_aud SET payload = 'px', seq = 100 WHERE id = 7")
    val bad = runner.audit("mr_aud", buckets = 8)
      .where(!col("ok")).collect()
    assert(bad.length === 1, "exactly the stale row's bucket must flag")
    assert(bad(0).getAs[Long]("src_rows") === bad(0).getAs[Long]("mirror_rows"),
      "counts are GREEN in the flagged bucket — fingerprints did the catching")

    // the monitor-report form: one row for the table, mismatch counted
    val all = runner.auditAll(buckets = 8).collect()
    assert(all.length === 1 && all(0).getAs[String]("table") === "mr_aud")
    assert(all(0).getAs[Long]("buckets_mismatched") === 1L)
    assert(!all(0).getAs[Boolean]("ok"))

    // one capture round converges the mirror; the audit reads clean again
    runner.runOnce()
    assert(runner.audit("mr_aud", buckets = 8).collect()
      .forall(_.getAs[Boolean]("ok")))
    val allOk = runner.auditAll(buckets = 8).collect()
    assert(allOk(0).getAs[Boolean]("ok") &&
      allOk(0).getAs[Long]("buckets_mismatched") === 0L)

    // a planted EXTRA mirror-invisible source row (insert, no capture):
    // count mismatch flags too — the missing-row taxonomy
    // seq must sit ABOVE the watermark (100 after the id=7 capture) or
    // the poll transport never sees the row — the monotonic-version
    // contract (a sub-watermark insert is exactly what audit flags
    // forever; here the fixture should genuinely converge)
    exec("INSERT INTO mr_aud VALUES (41, 141, 'p41')")
    assert(runner.audit("mr_aud", buckets = 8).where(!col("ok")).count() === 1L)
    runner.runOnce() // leave the table converged for any later test

    // r20: report() is the ONE-CALL monitor frame — the lag row with the
    // audit columns joined on by default. Plant the stale-version shape
    // again: counts stay equal, so sync_status reads SYNCED — exactly the
    // blindness the audit_ok column exists to cover.
    exec("UPDATE mr_aud SET payload = 'py', seq = 200 WHERE id = 9")
    val rep = runner.report(buckets = 8).collect()
    assert(rep.length === 1 && rep(0).getAs[String]("table_name") === "mr_aud")
    assert(rep(0).getAs[String]("sync_status") === "SYNCED",
      "counts are green — the lag columns alone cannot see the stale row")
    assert(!rep(0).getAs[Boolean]("audit_ok"))
    assert(rep(0).getAs[Long]("buckets_mismatched") === 1L)
    runner.runOnce()
    val repOk = runner.report(buckets = 8).collect()(0)
    assert(repOk.getAs[Boolean]("audit_ok") &&
      repOk.getAs[String]("sync_status") === "SYNCED")
    // audit = false skips the scans and the columns — the hot-loop form
    assert(!runner.report(audit = false).columns.contains("audit_ok"))
  }

  test("schema drift end-to-end: a source ALTER ADD COLUMN flows through " +
    "capture and, with sink_evolve, into the warehouse target") {
    val root = Files.createTempDirectory("mrdrift").toString
    exec("CREATE TABLE mr_dft (id BIGINT PRIMARY KEY, seq BIGINT NOT NULL, " +
      "payload VARCHAR(64))",
      "CREATE TABLE wh_dft (\"ID\" BIGINT PRIMARY KEY, \"SEQ\" BIGINT, " +
        "\"PAYLOAD\" VARCHAR(64), \"_peerdb_version\" BIGINT)")
    exec((1L to 3L).map(i => s"INSERT INTO mr_dft VALUES ($i, $i, 'd$i')"): _*)
    val cfgPath = s"$root/mirror.yaml"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(cfgPath),
      s"""mirror: mr_drift
         |source_url: "$url"
         |target_dir: $root/mirror
         |sink_url: "$url"
         |sink_dual: derby
         |sink_evolve: true
         |tables:
         |  - name: mr_dft
         |    keys: [ID]
         |    version_col: SEQ
         |    buckets: 4
         |    target: wh_dft
         |""".stripMargin)
    val runner = MirrorRunner.load(spark, cfgPath, props)
    runner.runOnce()
    assert(spark.read.jdbc(url, "wh_dft", props).count() === 3L)

    // the source grows a column mid-mirror (PeerDB's schema-drift case),
    // then changes land that carry it
    exec("ALTER TABLE mr_dft ADD COLUMN extra BIGINT",
      "UPDATE mr_dft SET extra = 77, seq = 20 WHERE id = 1",
      "INSERT INTO mr_dft VALUES (4, 21, 'd4', 99)")
    runner.runOnce()
    // mirror FINAL carries the new column (old rows null-filled)
    val fin = runner.readFinal("mr_dft")
    assert(fin.columns.exists(_.equalsIgnoreCase("extra")))
    // the warehouse target gained the column and the changed rows deliver
    // their values; untouched pre-drift rows read NULL
    val wh = spark.read.jdbc(url, "wh_dft", props)
      .select(col("ID").cast("long"), col("EXTRA").cast("long"))
      .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(wh(1L) === Some(77L) && wh(4L) === Some(99L))
    assert(wh(2L).isEmpty && wh(3L).isEmpty)
  }

  test("config-driven FRAME path: the same config file drives the " +
    "pgoutput multiplexed-slot transport — two tables, one stream, " +
    "restart resumes via registry + checkpoint, FINAL-correct") {
    import graft.sources.PgOutput.{Fixture, RelCol, VNull, VText}
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = Files.createTempDirectory("mrframes").toString
    val cfgPath = s"$root/mirror.yaml"
    // pg-cased identifiers: the frame transport speaks the publication's
    // own lowercase names (the polling tests above speak Derby's uppercase)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(cfgPath),
      s"""mirror: mr_frames
         |source_url: "jdbc:unused:frames-only"
         |target_dir: $root/mirror
         |tables:
         |  - name: items
         |    keys: [id]
         |    version_col: seq
         |    buckets: 4
         |  - name: orders
         |    keys: [oid]
         |    version_col: seq
         |    buckets: 4
         |""".stripMargin)
    val itemCols = Seq(RelCol("id", 20, -1, isKey = true),
      RelCol("name", 25, -1, isKey = false))
    val orderCols = Seq(RelCol("oid", 20, -1, isKey = true),
      RelCol("amount", 23, -1, isKey = false))
    def tx(n: Int, base: Long, dml: Seq[Array[Byte]]): Seq[Array[Byte]] = {
      val ts = 1700000000000000L + n * 1000000L
      Fixture.begin(base, base + 100, ts, 1000 + n) +:
        dml :+ Fixture.commit(base + 100, base + 100, base + 101, ts)
    }

    // batch 1: both relations described + one interleaved transaction
    val runner = MirrorRunner.load(spark, cfgPath, props)
    val in1 = MemoryStream[Frame]
    in1.addData((Seq(
      Fixture.relation(5, 7, "public", "items", itemCols),
      Fixture.relation(6, 8, "public", "orders", orderCols)) ++
      tx(1, 100, Seq(
        Fixture.insert(101, 7, Seq(VText("1"), VText("ann"))),
        Fixture.insert(102, 8, Seq(VText("10"), VText("500"))),
        Fixture.insert(103, 7, Seq(VText("2"), VText("bob"))))))
      .map(Frame): _*)
    runner.runFrames(in1.toDF()).awaitTermination()
    assert(runner.readFramesFinal("items")
      .select("id", "name").orderBy("id").collect().toSeq ===
      Seq(Row(1L, "ann"), Row(2L, "bob")))
    assert(runner.readFramesFinal("orders")
      .select("oid", "amount").collect().toSeq === Seq(Row(10L, 500)))

    // RESTART: a brand-new runner over the same config file, a fresh
    // query over the same checkpoint (the MemoryStream stands in for the
    // slot socket, so it carries the offset continuity), and a bare-DML
    // batch — relids resolve via the persisted per-table registries
    val runner2 = MirrorRunner.load(spark, cfgPath, props)
    in1.addData(tx(2, 300, Seq(
      Fixture.update(301, 7, Seq(VText("1"), VText("anne"))),
      Fixture.delete(302, 8, Seq(VText("10"), VNull))))
      .map(Frame): _*)
    runner2.runFrames(in1.toDF()).awaitTermination()
    assert(runner2.readFramesFinal("items")
      .select("id", "name").orderBy("id").collect().toSeq ===
      Seq(Row(1L, "anne"), Row(2L, "bob")))
    assert(runner2.readFramesFinal("orders").count() === 0L)
    // the polling-path verbs still see THEIR namespace untouched
    assert(runner2.status().forall(_.state == "fresh"))
    // a bootstrap over the live mirror reads the stream's confirmed LSN
    // (kept at the capture root) and refuses to rewind it
    val rewind = intercept[IllegalArgumentException] {
      graft.streaming.PgOutputStream.bootstrapSnapshot(spark,
        Seq((1L, "ann")).toDF("id", "name"), Seq("id"), consistentLsn = 50L,
        targetDir = s"$root/mirror/frames/items", table = "items", nBuckets = 4)
    }
    assert(rewind.getMessage.contains("rewind"))
  }

  test("continuous mode: the loop drives rounds; a broken round is " +
    "recorded, survivors keep committing") {
    val root = Files.createTempDirectory("mrloop").toString
    exec("CREATE TABLE mr_loop (id BIGINT PRIMARY KEY, seq BIGINT NOT NULL, " +
      "payload VARCHAR(64))",
      "INSERT INTO mr_loop VALUES (1, 1, 'a')")
    val cfgPath = s"$root/mirror.yaml"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(cfgPath),
      s"""mirror: mr_loop
         |source_url: "$url"
         |target_dir: $root/mirror
         |tables:
         |  - name: mr_loop
         |    keys: [ID]
         |    version_col: SEQ
         |    buckets: 4
         |""".stripMargin)
    val runner = MirrorRunner.load(spark, cfgPath, props)
    runner.start(200L)
    try {
      intercept[IllegalStateException](runner.start(200L)) // one loop only
      val deadline = System.currentTimeMillis() + 30000
      while (System.currentTimeMillis() < deadline &&
        runner.status().head.state != "active") Thread.sleep(100)
      assert(runner.status().head.state === "active")
      exec("INSERT INTO mr_loop VALUES (2, 5, 'b')")
      while (System.currentTimeMillis() < deadline &&
        runner.status().head.watermark != Some(5L)) Thread.sleep(100)
      assert(runner.status().head.watermark === Some(5L))
      assert(runner.lastRoundError.isEmpty)
    } finally runner.stop()
    assert(runner.readFinal("mr_loop").count() === 2L)
    // loop can be restarted after stop
    runner.start(200L)
    runner.stop()
  }
}
