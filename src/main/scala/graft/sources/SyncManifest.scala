package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Atomic per-sync file manifest for the bucketed parquet mirror — the
  * reader-consistency half of the CDC target. The reference's ClickHouse
  * tables give readers a consistent part-set snapshot (a SELECT never sees
  * half a merge); plain directory-listing parquet reads cannot, because a
  * multi-bucket sync commits per partition directory, so a FINAL read racing
  * a poll or a reconcile sweep could mix old and new buckets.
  *
  * Mechanics, Delta-log-in-miniature (one current version + one grace
  * generation, no history):
  *  - every sync APPENDS its merged bucket files (fresh unique part names;
  *    nothing the running readers hold is deleted by the write itself), then
  *    commits `_graft_manifest.json` — the exact relative file list of the
  *    mirror — through the [[StateFile]] swap, like the capture state,
  *    immediately before the state file (crash between the two: the
  *    manifest is the already-committed complete sync; the idempotent
  *    re-poll re-merges and re-commits).
  *  - readers ([[readCommitted]]) pin to the committed manifest: they see
  *    exactly the file set of one sync — the commit rename is the atomic
  *    visibility flip. No manifest (a pre-manifest mirror) falls back to the
  *    plain directory read.
  *  - the files a sync replaces are RETIRED, not deleted: they stay on disk
  *    (listed in the manifest's `retired` field) until the NEXT commit
  *    vacuums them, so a reader that pinned the previous manifest keeps
  *    evaluating correctly across one subsequent sync. Crash debris —
  *    visible parquet files no manifest ever adopted, e.g. an append whose
  *    manifest commit never ran — is vacuumed at the same point (no reader
  *    can hold it).
  *
  * Scale notes (100 TB): the manifest lists file paths, not data — its size
  * tracks file count (one line per bucket file), and commits touch only the
  * driver + one filesystem rename. Listing is restricted to the touched
  * bucket directories per sync (the full-mirror listing runs once, when
  * adopting a manifest-less mirror). Retention is one generation, so disk
  * overhead is bounded by the touched buckets of the last sync. Production
  * targets would commit through a transactional table format; this manifest
  * is the same idea reduced to the single-writer mirror contract.
  */
object SyncManifest {

  /** The grace contract error [[graced]] raises: the pinned sync's files
    * were vacuumed by later commits mid-read. Extends IllegalStateException
    * (what callers historically caught); [[withPinnedRetry]] catches it by
    * type to re-pin and re-run.
    */
  final class GraceOverrunException(message: String, cause: Throwable)
    extends IllegalStateException(message, cause)
  private val ManifestFile = "_graft_manifest.json"
  private val FormatVersion = 1

  /** `files`: the committed sync's relative file set (what readers see).
    * `retired`: the previous generation, still on disk for in-flight
    * readers, vacuumed at the next commit.
    * `schemaB64`: optional base64-encoded Spark schema JSON of the
    * committed content (data columns + the `bucket` partition column
    * last). When present, [[readCommitted]] passes it straight to the
    * reader — skipping the per-read parquet footer-inference Spark job,
    * which dominates lifecycle operators that open a mirror many times
    * per batch. Base64 keeps the line-oriented manifest regex-parsable
    * (no brackets/quotes inside the value). Absent on manifests written
    * by older builds or commits that could not prove full coverage —
    * readers fall back to inference.
    */
  case class Manifest(files: Seq[String], retired: Seq[String],
                      schemaB64: Option[String] = None) {
    def schema: Option[org.apache.spark.sql.types.StructType] =
      schemaB64.flatMap { b64 =>
        scala.util.Try(org.apache.spark.sql.types.DataType.fromJson(
          new String(java.util.Base64.getDecoder.decode(b64), "UTF-8"))
          .asInstanceOf[org.apache.spark.sql.types.StructType]).toOption
      }
  }

  private[sources] def encodeSchema(
      s: org.apache.spark.sql.types.StructType): String =
    java.util.Base64.getEncoder.encodeToString(s.json.getBytes("UTF-8"))

  private def fsOf(spark: SparkSession, dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Read the committed manifest, if any ([[StateFile.read]]: a missing
    * manifest falls back to a complete tmp, a torn tmp means no commit).
    */
  def read(spark: SparkSession, dir: String): Option[Manifest] =
    StateFile.read(spark, new Path(dir, ManifestFile)) { bytes =>
      val txt = new String(bytes, "UTF-8")
      def arr(k: String): Option[Seq[String]] =
        ("\"%s\"\\s*:\\s*\\[([^\\]]*)\\]".format(k)).r.findFirstMatchIn(txt)
          .map(m => "\"([^\"]*)\"".r.findAllMatchIn(m.group(1)).map(_.group(1)).toSeq)
      // format skew is not corruption, and it must refuse LOUDLY even when
      // the rest of the file doesn't parse (a future writer's arrays may
      // not match these regexes at all — falling through to the plain
      // directory read would silently mix generations). fmt is written
      // first, so a torn CURRENT-format tmp still reads fmt=1 and lands on
      // the no-commit contract below; only a tmp torn inside the fmt
      // digits themselves trades the contract for a loud (approximate)
      // version error, which is the safe direction.
      val fmt = """"fmt"\s*:\s*(\d+)""".r.findFirstMatchIn(txt).map(_.group(1).toInt)
      if (fmt.exists(_ != FormatVersion))
        throw new IllegalStateException(
          s"incompatible mirror manifest format under $dir (fmt ${fmt.get}; " +
            s"this build reads fmt $FormatVersion) — upgrade the reader or " +
            "re-snapshot the mirror")
      val schemaB64 =
        """"schema"\s*:\s*"([A-Za-z0-9+/=]*)"""".r.findFirstMatchIn(txt)
          .map(_.group(1)).filter(_.nonEmpty)
      for (f <- arr("files"); r <- arr("retired")) yield Manifest(f, r, schemaB64)
    }

  private def write(spark: SparkSession, dir: String, m: Manifest): Unit = {
    def arr(xs: Seq[String]) = xs.map("\"" + _ + "\"").mkString("[", ",", "]")
    val schemaField =
      m.schemaB64.map(b => s""","schema":"$b"""").getOrElse("")
    StateFile.write(spark, new Path(dir, ManifestFile),
      s"""{"fmt":$FormatVersion,"files":${arr(m.files)},"retired":${arr(m.retired)}$schemaField}"""
        .getBytes("UTF-8"))
  }

  /** Relative paths of the visible parquet data files under `dir`,
    * optionally restricted to the given `bucket=N` subdirectories. Mirrors
    * the visibility rule of [[graft.streaming.CdcStream.hasVisibleParquet]]:
    * every path component below `dir` must be unhidden.
    */
  def listVisible(spark: SparkSession, dir: String,
                  buckets: Option[Set[Int]] = None): Seq[String] = {
    val fs = fsOf(spark, dir)
    val root = new Path(dir)
    if (!fs.exists(root)) return Seq.empty
    val qualified = fs.makeQualified(root)
    val prefix = qualified.toString + "/"
    val roots = buckets match {
      case Some(bs) => bs.toSeq.sorted.map(b => new Path(root, s"bucket=$b"))
        .filter(fs.exists(_))
      case None => Seq(root)
    }
    val out = Seq.newBuilder[String]
    // hidden-PRUNING lazy walk (see CdcStream.hasVisibleParquet): never
    // descends into `_temporary`/dot debris — the eager recursive lister
    // stats such files and crashes when they vanish mid-churn — and a
    // path vanishing between readdir and here simply isn't listed
    def walk(p: Path): Unit = {
      val entries =
        try fs.listStatus(p)
        catch { case _: java.io.FileNotFoundException => return }
      entries.foreach { st =>
        val n = st.getPath.getName
        if (!n.startsWith("_") && !n.startsWith(".")) {
          if (st.isDirectory) walk(st.getPath)
          else if (n.endsWith(".parquet"))
            out += fs.makeQualified(st.getPath).toString.stripPrefix(prefix)
        }
      }
    }
    roots.foreach(walk)
    out.result()
  }

  private def bucketOf(rel: String): Option[Int] = {
    val seg = rel.takeWhile(_ != '/')
    if (seg.startsWith("bucket=")) scala.util.Try(seg.drop(7).toInt).toOption
    else None
  }

  /** Bucket ids the mirror's on-disk layout occupies — from the committed
    * manifest, or from the directory listing for a pre-manifest mirror.
    *
    * @param includeRetired include the grace generation's buckets. A full
    *                       replace must touch those too (to finish retiring
    *                       a wider old layout); a LIVENESS probe must not —
    *                       retired files of an already-replaced layout say
    *                       nothing about the current bucket space.
    */
  def liveBuckets(spark: SparkSession, dir: String,
                  includeRetired: Boolean = true): Set[Int] =
    read(spark, dir) match {
      case Some(m) =>
        (if (includeRetired) m.files ++ m.retired else m.files)
          .flatMap(bucketOf).toSet
      case None => listVisible(spark, dir).flatMap(bucketOf).toSet
    }

  /** Commit after a FULL overwrite (snapshot / initial load): adopt every
    * visible file, nothing retired (the overwrite already cleared the dir).
    * `schema` (the written frame's, bucket-last) covers every adopted file
    * by construction, so it always lands in the manifest when given.
    */
  def commitFull(spark: SparkSession, dir: String,
                 schema: Option[org.apache.spark.sql.types.StructType] = None): Unit =
    write(spark, dir, Manifest(listVisible(spark, dir).sorted, Seq.empty,
      schema.map(encodeSchema)))

  /** Commit after an APPEND that replaced the contents of `touched` buckets
    * with `newFiles`: carry the untouched buckets' entries, retire the
    * replaced generation, then vacuum (a) the generation retired by the
    * PREVIOUS commit — its reader grace is over — and (b) crash debris in
    * the touched buckets that no manifest ever adopted.
    *
    * @param preexisting full pre-append listing, used only to adopt a
    *                    mirror that predates manifests (its current files
    *                    become the carried baseline)
    */
  def commitAfterAppend(spark: SparkSession, dir: String, touched: Set[Int],
                        newFiles: Set[String], preexisting: => Seq[String],
                        newSchema: Option[org.apache.spark.sql.types.StructType] = None): Unit = {
    // a zero-data commit is not a sync: rewriting the manifest unchanged
    // would still vacuum the previous retired generation and break the
    // one-subsequent-sync reader grace for nothing
    if (touched.isEmpty && newFiles.isEmpty) return
    val fs = fsOf(spark, dir)
    val old = read(spark, dir).getOrElse(Manifest(preexisting, Seq.empty))
    val (replaced, kept) = old.files.partition(f => bucketOf(f).exists(touched))
    // when the commit leaves the mirror EMPTY (re-snapshot from a truncated
    // source), carry the whole previous horizon in `retired`: it is the
    // only remaining schema carrier for readCommitted and the pinned
    // readers' grace — it vacuums at the next data-bearing commit
    val retired =
      if ((kept ++ newFiles).isEmpty) (replaced ++ old.retired).distinct.sorted
      else replaced.sorted
    // schema carried forward only when it provably covers every live file:
    // the new generation's frame covers the touched buckets; kept
    // (untouched) files are covered by the OLD stored schema, merged in
    // by name (new field type wins — the merge frame already coerced).
    // A kept set under a legacy schemaless manifest cannot be proven →
    // store none, readers fall back to footer inference.
    val mergedSchema: Option[String] = newSchema match {
      case None => None
      case Some(ns) =>
        if (kept.isEmpty) Some(encodeSchema(ns))
        else old.schema match {
          // shared columns must agree on TYPE between the kept buckets'
          // stored schema and the new frame: letting the new frame's type
          // win after a cross-batch widening (int→long via unionByName
          // coercion) pins a schema that no longer matches the kept files'
          // physical parquet type, and the vectorized reader throws on
          // those buckets until they are rewritten. On any type change,
          // store no schema — readers fall back to footer inference, which
          // handles per-file physical types.
          case Some(os) if os.fields.forall(f =>
              ns.fields.find(_.name == f.name)
                .forall(_.dataType == f.dataType)) =>
            val newNames = ns.fieldNames.toSet
            val carried = os.fields.filterNot(f => newNames(f.name))
            // bucket partition column stays LAST (the inferred-read order)
            val (carriedData, carriedBucket) = carried.partition(_.name != "bucket")
            val (nsData, nsBucket) = ns.fields.partition(_.name != "bucket")
            Some(encodeSchema(org.apache.spark.sql.types.StructType(
              nsData ++ carriedData ++ nsBucket ++ carriedBucket)))
          case _ => None // schemaless legacy manifest, or a type change
        }
    }
    write(spark, dir, Manifest((kept ++ newFiles).sorted, retired, mergedSchema))
    val adopted = (kept ++ newFiles).toSet ++ retired
    val debris = listVisible(spark, dir, Some(touched)).filterNot(adopted)
    for (f <- (old.retired.filterNot(adopted) ++ debris).distinct)
      fs.delete(new Path(dir, f), false)
  }

  /** The mirror as of its last committed sync — the exact file set of one
    * manifest, never a mix of two syncs. Falls back to the plain directory
    * read only for mirrors that predate manifests (their writes were
    * whole-bucket overwrites, so the fallback is what their readers always
    * did). A committed manifest with an EMPTY file list (a re-snapshot from
    * an empty source) is an empty mirror: the read keeps the schema of the
    * retired generation but serves zero rows — it must never fall through
    * to the directory listing, which would resurrect the retired files.
    *
    * Grace contract: the returned frame keeps evaluating correctly across
    * ONE subsequent sync (the retired generation stays on disk); a reader
    * that holds it across two or more can find its files vacuumed
    * mid-query. Wrap actions on long-held frames in [[graced]] to get the
    * contract error instead of a raw task `FileNotFoundException` (the
    * planning-time listing inside this method is already translated).
    */
  def readCommitted(spark: SparkSession, dir: String): DataFrame =
    read(spark, dir) match {
      case Some(m) if m.files.nonEmpty =>
        // a stored schema skips the per-read footer-inference Spark job;
        // older kept files missing newly-added columns read them as null
        // (the standard parquet evolution contract)
        val reader = m.schema.foldLeft(
          spark.read.option("basePath", dir))((r, s) => r.schema(s))
        graced(dir)(reader.parquet(m.files.map(f => s"$dir/$f"): _*))
      case Some(m) if m.retired.nonEmpty =>
        val reader = m.schema.foldLeft(
          spark.read.option("basePath", dir))((r, s) => r.schema(s))
        graced(dir)(reader.parquet(m.retired.map(f => s"$dir/$f"): _*).limit(0))
      // pre-manifest fallback stays untranslated: a missing DIRECTORY here
      // is "no mirror", not a grace overrun
      case _ => spark.read.parquet(dir)
    }

  /** Run `action` (typically an action on a held [[readCommitted]] frame)
    * translating a vanished-pinned-file failure into the manifest-grace
    * contract: one grace generation is retained by design, so a reader that
    * outlives it dies with a task-level `FileNotFoundException` deep in a
    * Spark stack — this surfaces WHY and the remedy (re-pin and retry)
    * instead. The original failure is preserved as the cause; failures
    * without a vanished file in their cause chain pass through untouched.
    */
  def graced[A](dir: String)(action: => A): A =
    try action catch {
      case e: Throwable if vanishedFileIn(e, dir) =>
        throw new SyncManifest.GraceOverrunException(
          s"reader outlived the manifest grace under $dir — the pinned sync's " +
            "files were vacuumed by later commits (one grace generation is " +
            "retained by design); re-pin with readCommitted and retry", e)
    }

  /** The [[graced]] remedy, owned by the engine instead of hand-written by
    * every long-running reader: run `read` against a FRESHLY pinned
    * [[readCommitted]] frame, and on a grace overrun (the pin outlived its
    * one-sync grace mid-read — possible whenever syncs keep landing while
    * the read runs) re-pin and re-run, up to `attempts` times total. Each
    * retry observes exactly one (newer) committed sync — the loop never
    * mixes generations, it just moves the whole read to a later one, which
    * is the contract's intended recovery. A persistent overrun (reads
    * slower than the sync cadence every time) rethrows the last contract
    * error; any other failure propagates immediately.
    */
  def withPinnedRetry[A](spark: SparkSession, dir: String, attempts: Int = 3)
                        (read: DataFrame => A): A = {
    require(attempts >= 1, s"bad attempts=$attempts")
    var last: GraceOverrunException = null
    var i = 0
    while (i < attempts) {
      try return graced(dir)(read(readCommitted(spark, dir)))
      catch { case e: GraceOverrunException => last = e; i += 1 }
    }
    throw last
  }

  /** A vanished-file failure FOR THIS MIRROR: the cause chain carries a
    * missing-file/path indicator (task-level `FileNotFoundException`,
    * Spark's FAILED_READ_FILE.FILE_NOT_EXIST, or planning-time
    * PATH_NOT_FOUND) AND some message in the chain names a path under
    * `dir` — an unrelated FileNotFoundException (a UDF's local resource, a
    * different dataset) must pass through untranslated, a misdiagnosis
    * that "re-pin and retry" could never fix.
    */
  private def vanishedFileIn(e: Throwable, dir: String): Boolean = {
    val dirPath = new Path(dir).toUri.getPath
    var vanished = false
    var underDir = false
    var cur = e
    var depth = 0
    while (cur != null && depth < 20) { // bounded: cause cycles exist in the wild
      val msg = Option(cur.getMessage).getOrElse("")
      if (cur.isInstanceOf[java.io.FileNotFoundException] ||
        msg.contains("FileNotFoundException") || msg.contains("FILE_NOT_EXIST") ||
        msg.contains("PATH_NOT_FOUND") || msg.contains("Path does not exist") ||
        msg.contains("File does not exist")) vanished = true
      if (msg.contains(dirPath)) underDir = true
      cur = cur.getCause
      depth += 1
    }
    vanished && underDir
  }
}
