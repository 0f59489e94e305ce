package graft

import java.io.IOException
import java.net.URI

import org.apache.hadoop.fs.{FileStatus, Path, RawLocalFileSystem}

/** Test-only Hadoop filesystem with OBJECT-STORE semantics under the
  * `s3x://` scheme: local bytes behind an adversarial metadata layer —
  *   - `listStatus` returns children in a deterministically SHUFFLED
  *     order (object-store listings are not the lexical order a local
  *     directory walk habituates callers to);
  *   - `rename` REFUSES (object stores copy+delete; any read-path code
  *     that quietly depended on rename would surface here, loud).
  * The log READ seam (LogFs) must serve scans byte-identically over
  * this — that is the `s3a://` story the README advertises, pinned
  * without an object-store endpoint. The IVF, semantic-dedup and
  * near-dup indexes commit through `IndexLog` without any rename of
  * their own; their lifecycles run on [[RenameFreeFs]], which still
  * allows the renames of Spark's file output committer under
  * `_temporary/`. A run of those lifecycles here, where every rename is
  * refused, needs a rename-free output committer and is out of scope.
  * The cluster index and fan-out outputs still need a rename-capable
  * store, so they keep their local/HDFS roots in specs.
  */
final class ObjectStoreLikeFs extends RawLocalFileSystem {
  override def getScheme: String = "s3x"
  override def getUri: URI = URI.create("s3x:///")

  override def listStatus(f: Path): Array[FileStatus] = {
    val out = super.listStatus(f)
    // deterministic per-directory shuffle: stable across runs, never
    // the lexical order
    val rnd = new scala.util.Random(f.toString.hashCode.toLong)
    rnd.shuffle(out.toSeq).toArray
  }

  override def rename(src: Path, dst: Path): Boolean =
    throw new IOException(
      s"s3x: rename($src, $dst) is not supported — object-store semantics")
}
