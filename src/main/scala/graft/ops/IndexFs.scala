package graft.ops

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Hadoop-FileSystem-routed primitives for the [[IndexLog]] roots (the
  * IVF, semantic-dedup, near-dup and near-dup cluster indexes and the
  * multi-table fan-out's replica): exists/delete/list/read resolve
  * against whatever filesystem the root names — a bare local path, a
  * `file://` URI, `hdfs://` — instead of `java.io.File`, which silently
  * assumes a local root. A production index over a 100 TB corpus lives
  * on HDFS or an object store, so index maintenance must speak the
  * Hadoop FS API end to end.
  *
  * S3 caveat (documented, not papered over). Graft renames nothing in
  * these roots: the commit point is the create-if-absent of one small
  * file. Their data files are still written by Spark's file output
  * committer, whose own renames under `_temporary/` are O(bytes) copies
  * on S3; a rename-free committer would remove that last dependency.
  */
private[graft] object IndexFs {

  def fs(spark: SparkSession, root: String): FileSystem =
    new Path(root).getFileSystem(spark.sessionState.newHadoopConf())

  def exists(fs: FileSystem, p: String): Boolean = fs.exists(new Path(p))

  def delete(fs: FileSystem, p: String): Unit = {
    fs.delete(new Path(p), true); ()
  }

  /** Names (not paths) of the direct children of `dir`; empty when the
    * directory does not exist. */
  def listNames(fs: FileSystem, dir: String): Seq[String] =
    if (!exists(fs, dir)) Seq.empty
    else fs.listStatus(new Path(dir)).toIndexedSeq.map(_.getPath.getName)

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
