package graft

import java.io.IOException
import java.net.URI

import org.apache.hadoop.fs.{FileStatus, FSDataOutputStream, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** Test-only Hadoop filesystem under the `nrx://` scheme, a sibling of
  * [[ObjectStoreLikeFs]]: local bytes, but every rename whose SOURCE
  * lies outside a `_temporary/` directory is refused. Renames inside
  * `_temporary/` are Spark's file output committer's own (task and job
  * commit); the index code itself must need none, so the index
  * lifecycle specs run on this store and any graft rename surfaces
  * loud.
  */
final class RenameFreeFs extends RawLocalFileSystem with PlainStatuses {
  override def getScheme: String = "nrx"
  override def getUri: URI = URI.create("nrx:///")

  override def rename(src: Path, dst: Path): Boolean =
    if (src.toUri.getPath.split('/').contains("_temporary")) super.rename(src, dst)
    else throw new IOException(
      s"nrx: rename($src, $dst) outside _temporary/ is refused")
}

/** Test-only local filesystem under the `ccx://` scheme whose commit
  * records can be cut off: while [[CommitCutFs.armed]], creating any
  * file outside `_temporary/` other than `_SUCCESS` fails. A writer
  * armed this way lands its data files (Spark writes them under
  * `_temporary/` and moves them out) and then dies writing whatever
  * records them as committed — the "data written, not committed"
  * crash, produced without a failpoint.
  */
final class CommitCutFs extends RawLocalFileSystem with PlainStatuses {
  override def getScheme: String = "ccx"
  override def getUri: URI = URI.create("ccx:///")

  private def check(f: Path): Unit =
    if (CommitCutFs.armed && !f.toUri.getPath.contains("/_temporary/") &&
        f.getName != "_SUCCESS")
      throw new IOException(s"ccx: create($f) cut off")

  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    check(f)
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    check(f)
    super.create(f, permission, overwrite, bufferSize, replication, blockSize,
      progress)
  }
}

object CommitCutFs {
  @volatile var armed: Boolean = false
}

/** Listings as plain statuses: RawLocalFileSystem loads a status's
  * permissions lazily by reading its path as a `file:` URI, which fails
  * under another scheme (`FileSystem.listFiles` asks for them). */
trait PlainStatuses extends RawLocalFileSystem {
  override def listStatus(f: Path): Array[FileStatus] =
    super.listStatus(f).map(s => new FileStatus(s.getLen, s.isDirectory,
      s.getReplication, s.getBlockSize, s.getModificationTime, s.getPath))
}
