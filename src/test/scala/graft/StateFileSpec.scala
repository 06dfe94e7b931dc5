package graft

import java.nio.file.Files

import graft.operators.IndexMeta
import graft.sources.{Incremental, SyncManifest}
import graft.sources.Incremental.SyncState
import graft.sources.PgOutput.{RelCol, RelationAt}
import graft.streaming.PgOutputStream

/** Readers racing the state-file swap: one thread advances the
  * confirmed-flush LSN about 2,000 times and rewrites the relation
  * registry, a mirror manifest, a poll state and an index meta each time;
  * a second thread reads all five in a loop. No read may throw, find no
  * state, or see the LSN go backwards — a reader must never observe the
  * target missing mid-swap.
  */
class StateFileSpec extends SparkSpec {

  test("readers never see a state file missing or going backwards mid-swap") {
    val root = Files.createTempDirectory("graft_statefile_race").toString
    val (table, mirrorDir, idxDir) = ("t", s"$root/mirror", s"$root/idx")
    val metaFile = "_graft_race.json"
    def rels(i: Long) =
      Seq(RelationAt(i, 7, IndexedSeq(RelCol("id", 20, -1, isKey = true))))
    def writeAll(i: Long): Unit = {
      PgOutputStream.advanceConfirmedLsn(spark, root, table, i)
      PgOutputStream.writeRegistry(spark, root, table, rels(i))
      SyncManifest.commitFull(spark, mirrorDir)
      Incremental.writeState(spark, mirrorDir, SyncState(i, i, i, 4))
      IndexMeta.commit(spark, idxDir, metaFile, s"""{"fmt":1,"batches":$i}""")
    }
    writeAll(1L)

    @volatile var done = false
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    var reads = 0L
    val reader = new Thread(() => {
      var last = 0L
      while (!done && failures.size < 5) {
        try {
          val lsn = PgOutputStream.readConfirmedLsn(spark, root, table)
          if (lsn <= 0L || lsn < last) failures.add(s"lsn $lsn after $last")
          last = lsn
          if (PgOutputStream.readRegistry(spark, root, table).isEmpty)
            failures.add("registry empty")
          if (SyncManifest.read(spark, mirrorDir).isEmpty)
            failures.add("manifest missing")
          if (Incremental.readState(spark, mirrorDir).isEmpty)
            failures.add("poll state missing")
          IndexMeta.load(spark, idxDir, metaFile, 1, "race", Seq("batches"))
          reads += 1
        } catch { case e: Throwable => failures.add(e.toString) }
      }
    })
    reader.start()
    try (2L to 2001L).foreach(writeAll)
    finally { done = true; reader.join() }

    assert(failures.isEmpty, failures.toArray.mkString("\n"))
    assert(reads > 0L)
    assert(PgOutputStream.readConfirmedLsn(spark, root, table) == 2001L)
  }
}
