package graft

/** Pid-scoped temp output directories with shutdown-hook cleanup:
  * pid-scoping keeps concurrent JVMs from clobbering each other's
  * sink output, and the hook keeps repeated runs from leaking one
  * dataset copy per process into tmpdir. */
object TmpDirs {
  private val registered = scala.collection.mutable.Set.empty[String]

  def scoped(tag: String): String = synchronized {
    val p = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      s"$tag-${ProcessHandle.current().pid()}").toString
    if (registered.add(p)) {
      sys.addShutdownHook(deleteRecursively(new java.io.File(p)))
      ()
    }
    p
  }

  /** RAM-backed scratch root when the platform offers one (/dev/shm on
    * Linux), else java.io.tmpdir. */
  private lazy val ramRoot: String = {
    val shm = new java.io.File("/dev/shm")
    if (shm.isDirectory && shm.canWrite) shm.getPath
    else sys.props("java.io.tmpdir")
  }

  private val ckptCounter = new java.util.concurrent.atomic.AtomicLong()

  /** Fresh checkpoint dir for a synchronously-drained bounded stream,
    * on the RAM-backed root, with no shutdown hook: the caller deletes
    * it when its query stops. These checkpoints are ephemeral BY
    * CONSTRUCTION (memory/foreachBatch sinks drained to completion in
    * one call, checkpoint useless afterwards) — Spark's default temp
    * checkpoint lands in java.io.tmpdir, disk-backed here. RAM
    * placement is strictly less I/O but was measured bench-neutral by
    * itself (the page cache absorbs the small delta writes); the
    * measured win on the drain path is the checkpoint-checksum scoping
    * in EphemeralCkpt, which callers pair with this dir. RAM placement
    * changes no semantics and no durability (the temp checkpoint was
    * never durable). A durable production deployment passes its own
    * checkpointLocation instead.
    *
    * Unique per CALL (atomic counter): reusing a checkpoint across
    * `start()`s would RESUME the query — a drained re-run would emit
    * nothing instead of reprocessing. */
  private[graft] def ramCheckpointDir(tag: String): String =
    java.nio.file.Paths.get(ramRoot,
      s"graft-ckpt-$tag-${ProcessHandle.current().pid()}-${ckptCounter.incrementAndGet()}").toString

  /** 128-bit hex key for scoping scratch dirs by an input PATH: the
    * 32-bit String.hashCode it replaces could alias two datasets into
    * one staging/index dir and silently serve the wrong data. MD5 here
    * is a cache key, not a security boundary. */
  def pathKey(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map(b => f"$b%02x").mkString

  /** Symlink-safe recursive delete, shared by the shutdown hook and any
    * tool that cleans its own scratch dir (do not re-implement without
    * the symlink guard). */
  def deleteRecursively(f: java.io.File): Unit = {
    // never recurse THROUGH a symlink (File.listFiles follows them):
    // a staged dataset symlink inside a scoped dir must be unlinked,
    // not have its target's contents deleted
    if (!java.nio.file.Files.isSymbolicLink(f.toPath)) {
      Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    }
    f.delete(): Unit
  }
}
