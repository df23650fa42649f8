package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Sidecar filesystem operations for the stored indexes (tombstones,
  * bucket caches), through the Hadoop `FileSystem` API so the lifecycle
  * verbs work on ANY Spark-supported filesystem — HDFS, S3A, `file://` —
  * not only the local disk. This matters for correctness, not just
  * portability: `new java.io.File("hdfs://...").exists()` is ALWAYS
  * false, so a local-FS existence check on a cluster filesystem would
  * silently skip the tombstone anti-join at serve (deleted documents
  * resurrect) and never fire the append-time re-insert guard. Same
  * pattern as the rank-checkpoint gate ([[Pipeline.rankedCells]]): the
  * filesystem is resolved FROM the path's scheme against the session's
  * Hadoop configuration, so a `file:/...` URI, a bare local path, and a
  * cluster URI all route to the right implementation.
  */
object IndexFs {

  private def fsFor(spark: SparkSession, path: String): (FileSystem, Path) = {
    val p = new Path(path)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** Does `path` exist on ITS filesystem (scheme-resolved)? */
  def exists(spark: SparkSession, path: String): Boolean = {
    val (fs, p) = fsFor(spark, path)
    fs.exists(p)
  }

  /** The ids tombstoned in index `dir`, one `long` column `idCol`. */
  private def tombstones(spark: SparkSession, dir: String, idCol: String): Option[DataFrame] =
    Some(s"$dir/tombstones").filter(exists(spark, _))
      .map(spark.read.schema(s"$idCol long").parquet(_))

  /** `df` without the ids tombstoned in `dir`. */
  def liveOnly(df: DataFrame, dir: String, idCol: String): DataFrame =
    tombstones(df.sparkSession, dir, idCol).fold(df)(df.join(_, Seq(idCol), "left_anti"))

  /** The re-insert guard of an append: no `idCol` of `df` may be
    * tombstoned in `dir` until `compact` has run, or its stale row would
    * resurface or shadow the new one. */
  def requireNotTombstoned(df: DataFrame, idCol: String, dir: String, verb: String,
                           compact: String): Unit =
    tombstones(df.sparkSession, dir, idCol).foreach(t => Validation.requireEmpty(
      df.select(col(idCol).cast("long")).join(t, Seq(idCol), "left_semi"),
      s"$verb: incoming shard re-inserts tombstoned $idCol(s); run $compact('$dir') first", idCol))

  /** Recursively delete `path` on its filesystem (no-op when absent). */
  def deleteRecursive(spark: SparkSession, path: String): Unit = {
    val (fs, p) = fsFor(spark, path)
    if (fs.exists(p)) { fs.delete(p, true); () }
  }

  /** Injective catalog/filesystem-safe key for a directory string: a
    * readable sanitized tail plus the full SHA-256 of the UTF-8 bytes.
    * The plain `replaceAll("[^A-Za-z0-9]", "_")` sanitizer is LOSSY —
    * `/a/b.c` and `/a/b_c` both map to `_a_b_c`, so two distinct data
    * dirs could alias one cached index and silently serve the wrong
    * corpus. The SHA-256 suffix makes the mapping injective (advice r9).
    */
  def dirKey(dir: String): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val sha = md.digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val tail = dir.replaceAll("[^A-Za-z0-9]", "_").takeRight(40)
    s"${tail}_$sha"
  }

  /** Content fingerprint of a data directory: SHA-256 over the sorted
    * recursive file listing's (relative path, length, modification
    * time) triples, truncated to 16 hex chars. A cache keyed by
    * [[dirKey]] alone survives the data dir's CONTENT being regenerated
    * under the same path — a later session would silently serve a stale
    * index (advice r10). Folding this snapshot id into the cache key
    * makes regeneration produce a fresh key instead; the cost is one
    * filesystem listing (file-count-proportional metadata, never data).
    *
    * Granularity caveat: the fingerprint sees (path, length, mtime)
    * metadata only — a regeneration that preserves every file's byte
    * length AND its mtime (sub-granularity rewrites on coarse-mtime
    * filesystems) keys identically; that is the accepted trade for
    * never reading data.
    */
  def snapshotKey(spark: SparkSession, dir: String): String = {
    val (fs, p) = fsFor(spark, dir)
    val md = java.security.MessageDigest.getInstance("SHA-256")
    if (fs.exists(p)) {
      // entries are RELATIVE to the listing root: FileStatus paths come
      // back fully qualified (file:/…), so stripping the raw input
      // string rarely matched — the same content reached via a bare
      // path and a qualified URI keyed differently (advice r11). Strip
      // the QUALIFIED root (trailing-slash-normalized) instead, so the
      // key is a function of content layout, not of URI spelling.
      val base = fs.makeQualified(p).toString.stripSuffix("/")
      val it = fs.listFiles(p, true)
      val entries = scala.collection.mutable.ArrayBuffer.empty[String]
      while (it.hasNext) {
        val st = it.next()
        entries += s"${st.getPath.toString.stripPrefix(base)}|${st.getLen}|${st.getModificationTime}"
      }
      entries.sorted.foreach(e => md.update(e.getBytes("UTF-8")))
    }
    md.digest().map("%02x".format(_)).mkString.take(16)
  }

  /** Composite cache key for a standing artifact derived from a DATA
    * directory: [[dirKey]] (WHICH dir — injective, no aliasing) plus
    * [[snapshotKey]] (WHICH content generation — regenerated data under
    * the same path rolls the key instead of silently serving a stale
    * artifact). One definition so every cache-or-compute site (sparse /
    * ANN standing indexes, the bucketed cells table) carries the same
    * guarantees. */
  def dataKey(spark: SparkSession, dir: String): String =
    dirKey(dir) + "_s" + snapshotKey(spark, dir)
}
