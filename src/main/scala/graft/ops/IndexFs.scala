package graft.ops

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Hadoop-FileSystem-routed primitives for the persisted indexes (the
  * [[IndexLog]] behind the IVF, semantic-dedup, near-dup and near-dup
  * cluster indexes) and the fan-out's incremental state:
  * exists/rename/delete/read/write resolve against whatever filesystem
  * the root names — a bare local path, a `file://` URI, `hdfs://` —
  * instead of `java.io.File`, which silently assumes a local root. A
  * production index over a 100 TB corpus lives on HDFS or an object
  * store, so index maintenance must speak the Hadoop FS API end to end.
  *
  * S3 caveat (documented, not papered over). The indexes commit through
  * [[IndexLog]]: graft renames nothing there, and the commit point is
  * the create-if-absent of one small file. Their data files are still
  * written by Spark's file output committer, whose own renames under
  * `_temporary/` are O(bytes) copies on S3; a rename-free committer
  * would remove that last dependency.
  */
private[graft] object IndexFs {

  def fs(spark: SparkSession, root: String): FileSystem =
    new Path(root).getFileSystem(spark.sessionState.newHadoopConf())

  def exists(fs: FileSystem, p: String): Boolean = fs.exists(new Path(p))

  /** Rename that FAILS LOUD: Hadoop's FileSystem.rename reports
    * "destination exists" / "source missing" as a false return, which a
    * swap protocol must never ignore (a silently skipped rename leaves
    * a half-swapped index that reads as data loss later). */
  def rename(fs: FileSystem, src: String, dst: String): Unit =
    require(fs.rename(new Path(src), new Path(dst)),
      s"rename '$src' -> '$dst' failed " +
        "(source missing, or destination already exists)")

  def delete(fs: FileSystem, p: String): Unit = {
    fs.delete(new Path(p), true); ()
  }

  def mkdirs(fs: FileSystem, p: String): Unit = {
    fs.mkdirs(new Path(p)); ()
  }

  /** Names (not paths) of the direct children of `dir`; empty when the
    * directory does not exist. */
  def listNames(fs: FileSystem, dir: String): Seq[String] =
    if (!exists(fs, dir)) Seq.empty
    else fs.listStatus(new Path(dir)).toIndexedSeq.map(_.getPath.getName)

  /** Small UTF-8 marker/journal writes (overwrite). The stream closes
    * before return, so a reader that sees the file sees all of it on
    * filesystems with atomic create-visible-on-close semantics. */
  def writeUtf8(fs: FileSystem, p: String, s: String): Unit = {
    val out = fs.create(new Path(p), true)
    try out.write(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  def readUtf8(fs: FileSystem, p: String): String = {
    val in = fs.open(new Path(p))
    try {
      val buf = new java.io.ByteArrayOutputStream()
      val chunk = new Array[Byte](8192)
      var n = in.read(chunk)
      while (n >= 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
      new String(buf.toByteArray, java.nio.charset.StandardCharsets.UTF_8)
    } finally in.close()
  }
}
