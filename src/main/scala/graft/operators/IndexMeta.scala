package graft.operators

import graft.sources.StateFile
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** The shared meta commit/parse protocol of the persisted index family
  * ([[JaccardIndex]], [[IvfIndex]], [[LshIndex]]) and the maintained
  * aggregates: a single JSON file committed through the
  * [[graft.sources.StateFile]] swap strictly after the data dirs (so a
  * complete tmp is safe to adopt), parsed back with a format-version check
  * that tells skew apart from corruption. Extracted so a protocol fix
  * lands once. [[JaccardIndex]] keeps its own parse (it carries
  * legacy-layout detection and a double-typed field) but commits through
  * [[commit]].
  */
private[graft] object IndexMeta {

  /** Per-INSTANCE parquet reader that remembers each relation shape's
    * schema: every relation of a persisted index is written by the
    * index's own code, so its layout is fixed for the instance's
    * lifetime — the first read's footer-inference job serves every later
    * read of the same `kind`. Instance-scoped (not global-by-path) so a
    * dir re-created under a different store layout in the same JVM can
    * never serve a stale schema.
    */
  /** Schema-cached parquet reads for an index's OWN relations. The cache
    * is JVM-GLOBAL, keyed (index DIR, kind): an index directory's
    * relation schemas are fixed for the directory's whole lifetime
    * (single-writer contract; adds append schema-stable generations), so
    * the first footer inference serves every later INSTANCE over the same
    * dir too — a lifecycle query that rebuilds its index per call
    * otherwise pays one schema-inference Spark job per relation per call
    * (r21, rule metering: ResolveDataSource 146 ms / 2 runs inside every
    * docs_bm25_indexed invocation). NOT keyed by operator/format: a
    * relation's column TYPES can follow the caller's input (float vs
    * double vectors in `assigned`), so entries must never outlive the
    * directory — [[CachedReads.drop]] is called wherever a create()
    * deletes and re-roots a dir.
    */
  final class CachedReads(spark: SparkSession, dir: String) {
    def parquet(kind: String, path: String): org.apache.spark.sql.DataFrame = {
      val key = s"$dir#$kind"
      val cached = CachedReads.schemas.get(key)
      val df =
        if (cached != null) spark.read.schema(cached).parquet(path)
        else spark.read.parquet(path)
      if (cached == null) CachedReads.schemas.put(key, df.schema)
      df
    }
  }

  object CachedReads {
    private val schemas = new java.util.concurrent.ConcurrentHashMap[
      String, org.apache.spark.sql.types.StructType]()

    /** Forget every cached schema under `dir` — REQUIRED wherever a
      * create() deletes the directory before rebuilding it (the rebuilt
      * relations may carry different column types than the previous
      * occupant's).
      */
    def drop(dir: String): Unit =
      schemas.keySet.removeIf(_.startsWith(dir + "#"))
  }

  /** Commit `json` to `dir/file` through the [[StateFile]] swap. */
  def commit(spark: SparkSession, dir: String, file: String, json: String): Unit =
    StateFile.write(spark, new Path(dir, file), json.getBytes("UTF-8"))

  /** Read `dir/file` ([[StateFile.read]]) expecting format version `fmt`
    * and the named integer fields, returned in order.
    * Behaviors shared by every index: a parseable meta of another format
    * is SKEW (rebuild-with-create error, never "corrupt"), a half-written
    * main file is corruption, a missing/torn tmp without a main file is
    * "no index".
    *
    * `compat` lists OLDER formats this build can still open in place:
    * older fmt → defaults for the fields that fmt did not record (e.g. a
    * fmt-2 ANN index predates the streaming-batch mark, so `applied`
    * defaults to −1 = "none applied"). A field missing from the meta and
    * from the defaults is still corruption; a fmt in neither position is
    * still skew. Layout-incompatible revisions simply stay out of `compat`.
    */
  def load(spark: SparkSession, dir: String, file: String, fmt: Int,
           kind: String, fields: Seq[String],
           compat: Map[Int, Map[String, Int]] = Map.empty): Seq[Int] =
    StateFile.read(spark, new Path(dir, file)) { bytes =>
      val txt = new String(bytes, "UTF-8")
      def field(k: String): Option[String] =
        """"%s"\s*:\s*(-?\d+)""".format(k).r.findFirstMatchIn(txt).map(_.group(1))
      field("fmt").flatMap { v =>
        if (v.toInt != fmt && !compat.contains(v.toInt))
          throw new IllegalStateException(
            s"incompatible $kind index format under $dir (fmt $v; this build " +
              s"reads fmt $fmt) — rebuild with create()")
        val defaults = if (v.toInt == fmt) Map.empty[String, Int] else compat(v.toInt)
        val vals = fields.map(k => field(k).map(_.toInt).orElse(defaults.get(k)))
        if (vals.forall(_.isDefined)) Some(vals.map(_.get)) else None
      }
    }.getOrElse(throw new IllegalStateException(
      s"no $kind index under $dir — run create() first"))
}
