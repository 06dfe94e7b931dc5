package graft.sources

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.hadoop.fs.{FileContext, Options, Path}
import org.apache.spark.sql.SparkSession

/** The one single-file swap behind every durable engine state file: the
  * mirror manifest, the poll state, the pgoutput relation registry and
  * confirmed-flush LSN, the index/aggregate metas and the monitor states
  * and readouts.
  *
  * [[write]] puts the bytes in `<path>.tmp`, then REPLACES the target in
  * one step, so a concurrent reader sees the old or the new content and
  * never a missing file:
  *  - `file://`: `Files.move(ATOMIC_MOVE, REPLACE_EXISTING)`, i.e. one
  *    rename(2). Hadoop's `FileContext.rename(…, OVERWRITE)` is NOT atomic
  *    here: the local `AbstractFileSystem` inherits the default, which
  *    deletes the target before renaming. The tmp is written without a
  *    `.crc` sidecar, and both sidecars are dropped first: Hadoop's checksum
  *    layer skips verification when the sidecar is missing, while a stale
  *    one would fail the new content.
  *  - any other scheme: `FileContext.rename(…, OVERWRITE)`, which HDFS
  *    implements as one atomic operation.
  *
  * A crash leaves the old target, with a torn or complete tmp beside it.
  * [[read]] parses the target strictly and adopts the tmp only when the
  * target is missing: a first write that crashed before its swap, or the
  * delete + rename window of files written by older builds. A tmp is
  * complete only after everything its state describes is durable, so a
  * complete one is safe to adopt; a torn one means no state.
  */
object StateFile {

  def write(spark: SparkSession, path: Path, bytes: Array[Byte]): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = path.getFileSystem(conf)
    val dst = fs.makeQualified(path)
    val tmp = dst.suffix(".tmp")
    if (dst.toUri.getScheme == "file") {
      val (t, d) = (Paths.get(tmp.toUri), Paths.get(dst.toUri))
      for (p <- Seq(t, d))
        Files.deleteIfExists(p.resolveSibling(s".${p.getFileName}.crc"))
      Files.createDirectories(d.getParent)
      Files.write(t, bytes)
      Files.move(t, d, StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
    } else {
      val out = fs.create(tmp, true)
      try out.write(bytes) finally out.close()
      FileContext.getFileContext(dst.toUri, conf)
        .rename(tmp, dst, Options.Rename.OVERWRITE)
    }
  }

  /** The state at `path`, or None when there is none. `parse` returns
    * None for incomplete content: on the target that is corruption and
    * throws, on the tmp fallback it means a torn write. Format checks
    * inside `parse` may throw for either file.
    */
  def read[A](spark: SparkSession, path: Path)(parse: Array[Byte] => Option[A]): Option[A] = {
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def bytes(p: Path): Option[Array[Byte]] =
      try {
        val in = fs.open(p)
        try Some(in.readAllBytes()) finally in.close()
      } catch { case _: java.io.FileNotFoundException => None }
    bytes(path) match {
      case Some(b) => Some(parse(b).getOrElse(throw new IllegalStateException(
        s"corrupt $path: ${new String(b, "UTF-8").take(200)}")))
      case None => bytes(path.suffix(".tmp")).flatMap(parse)
    }
  }
}
