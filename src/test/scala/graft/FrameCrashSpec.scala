package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.{BinaryType, StructType}

import graft.sources.PgOutput.{Fixture, RelCol, VNull, VText}
import graft.streaming.{MirrorRunner, PgOutputStream}

/** Crash points of the frame path's microbatch, rebuilt from disk copies
  * instead of a hook in the engine: the state before and after one
  * microbatch is copied aside, and each state a crash could leave is
  * assembled from subsets of the two copies — after the data write but
  * before the manifest, after the manifest but before the registry, after
  * the registry but before the LSN, and "only a complete tmp" of each of
  * the three state files. The streaming checkpoint is always the one from
  * before, since the microbatch never committed. For every state, a
  * restarted `runFrames` must converge to the reference FINAL, and the
  * confirmed LSN must never pass data that is durable in the mirror.
  * Frames land as parquet files, so a restart from the old checkpoint
  * replays the same microbatch.
  */
class FrameCrashSpec extends SparkSpec {
  import spark.implicits._

  private val cols = Seq(RelCol("id", 20, -1, isKey = true),
    RelCol("name", 25, -1, isKey = false))

  private def tx(n: Int, base: Long, dml: Seq[Array[Byte]]): Seq[Array[Byte]] = {
    val ts = 1700000000000000L + n * 1000000L
    Fixture.begin(base, base + 100, ts, 1000 + n) +:
      dml :+ Fixture.commit(base + 100, base + 100, base + 101, ts)
  }

  private def copyTree(from: Path, to: Path): Unit = {
    val all = Files.walk(from)
    try all.forEach { p =>
      val dst = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(dst)
      else Files.copy(p, dst, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    } finally all.close()
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val all = Files.walk(p)
      try all.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => Files.delete(f))
      finally all.close()
    }

  test("every crash point of a frame microbatch converges without acking " +
    "WAL past durable data") {
    val root = Paths.get(Files.createTempDirectory("graft_frame_crash").toString)
    val live = root.resolve("mirror")
    val cfgPath = root.resolve("mirror.yaml")
    Files.writeString(cfgPath,
      s"""mirror: crash
         |source_url: "jdbc:unused:frames-only"
         |target_dir: $live
         |tables:
         |  - name: items
         |    keys: [id]
         |    version_col: seq
         |    buckets: 2
         |""".stripMargin)
    val runner = MirrorRunner.load(spark, cfgPath.toString)
    val landing = root.resolve("landing").toString
    def land(fs: Seq[Array[Byte]]): Unit =
      fs.map(Tuple1(_)).toDF("data").coalesce(1).write.mode("append").parquet(landing)
    def run(): Unit = runner.runFrames(spark.readStream
      .schema(new StructType().add("data", BinaryType)).parquet(landing))
      .awaitTermination()
    val frames = live.resolve("frames")
    val mirror = frames.resolve("items")
    def lsn = PgOutputStream.readConfirmedLsn(spark, frames.toString, "items")
    def rows = runner.readFramesFinal("items").select("id", "name")
      .orderBy("id").collect().toSeq

    land(Fixture.relation(5, 7, "public", "items", cols) +:
      tx(1, 100, Seq(
        Fixture.insert(101, 7, Seq(VText("1"), VText("ann"))),
        Fixture.insert(102, 7, Seq(VText("2"), VText("bob"))),
        Fixture.insert(103, 7, Seq(VText("3"), VText("cy"))))))
    run()
    val (lsnBefore, rowsBefore) = (lsn, rows)
    val before = root.resolve("before")
    copyTree(live, before)

    // the relation is re-described (a reconnect), so the registry changes
    land(Fixture.relation(300, 7, "public", "items", cols) +:
      tx(2, 300, Seq(
        Fixture.update(301, 7, Seq(VText("1"), VText("anne"))),
        Fixture.delete(302, 7, Seq(VText("2"), VNull)),
        Fixture.insert(303, 7, Seq(VText("4"), VText("dee"))))))
    run()
    val (lsnAfter, rowsAfter) = (lsn, rows)
    assert(lsnAfter > lsnBefore)
    assert(rowsAfter == Seq(Row(1L, "anne"), Row(3L, "cy"), Row(4L, "dee")))
    val after = root.resolve("after")
    copyTree(live, after)

    val manifest = "items/_graft_manifest.json"
    val registry = "_pg_relations_items.bin"
    val lsnFile = "_pg_confirmed_lsn_items.bin"
    def fromAfter(rel: String): Unit = {
      val dst = frames.resolve(rel)
      Files.createDirectories(dst.getParent)
      Files.copy(after.resolve("frames").resolve(rel), dst,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    def mirrorFromAfter(): Unit = {
      deleteTree(mirror)
      copyTree(after.resolve("frames/items"), mirror)
    }
    // the new parquet parts only, beside the old manifest
    def newParts(): Unit = {
      val all = Files.walk(after.resolve("frames/items"))
      try all.filter(_.toString.endsWith(".parquet")).forEach { p =>
        val rel = after.resolve("frames").relativize(p).toString
        if (!Files.exists(frames.resolve(rel))) fromAfter(rel)
      } finally all.close()
    }
    // the target is missing and the complete new content is its tmp
    def onlyTmp(rel: String): Unit = {
      Files.deleteIfExists(frames.resolve(rel))
      Files.copy(after.resolve("frames").resolve(rel),
        frames.resolve(rel + ".tmp"))
    }
    val crashes = Seq[(String, () => Unit)](
      "data written, manifest not" -> (() => newParts()),
      "manifest written, registry not" -> (() => mirrorFromAfter()),
      "registry written, LSN not" -> { () =>
        mirrorFromAfter(); fromAfter(registry) },
      "only a complete manifest tmp" -> { () =>
        mirrorFromAfter(); onlyTmp(manifest) },
      "only a complete registry tmp" -> { () =>
        mirrorFromAfter(); onlyTmp(registry) },
      "only a complete LSN tmp" -> { () =>
        mirrorFromAfter(); fromAfter(registry); onlyTmp(lsnFile) })

    for ((name, crash) <- crashes) {
      deleteTree(live)
      copyTree(before, live)
      crash()
      // durable data bounds the ack: an LSN past the batch needs its rows
      val acked = lsn
      assert(acked == lsnBefore || acked == lsnAfter, s"$name: LSN $acked")
      if (acked == lsnAfter)
        assert(rows == rowsAfter, s"$name: LSN acked past the mirror")
      else assert(rows == rowsBefore || rows == rowsAfter, name)
      run()
      assert(rows == rowsAfter, s"$name: FINAL after restart")
      assert(lsn == lsnAfter, s"$name: LSN after restart")
    }
  }
}
