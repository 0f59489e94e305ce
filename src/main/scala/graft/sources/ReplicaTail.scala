package graft.sources

import java.io.{File, FileOutputStream, IOException}

import graft.cdc.{MysqlBinlogAdapter, MysqlReplica}
import graft.cdc.MysqlBinlog.{Magic, MagicLen}
import graft.cdc.MysqlReplica.DumpItem
import org.apache.spark.sql.{DataFrame, SparkSession}

/** LIVE replication ingestion — the land-then-read loop that turns
  * [[graft.cdc.MysqlReplica]] from a protocol client into an ingestion
  * MODE (the documented production posture: one socket lands bytes,
  * the distributed fan-out decode reads the landed files).
  *
  * The replication stream is ONE socket BY PROTOCOL (every CDC
  * client's shape, Debezium included) — so the single-threaded half of
  * this loop does the only work a single thread can't avoid: append
  * the server's own event bytes to a landed binlog directory
  * (`landRoot`: files named by the server's ROTATE cues + a
  * `mysql-bin.index`, byte-identical to the server's files). Every
  * `maxBytesPerFold` landed bytes — and on every idle heartbeat with
  * bytes pending — the loop FOLDS the landed growth through
  * [[CdcFanout.appendTables]]: a DISTRIBUTED incremental decode (one
  * log walk feeding all N tables, executors do the work, one commit
  * per fold), so analytics read per-table frames that are always a
  * prefix-consistent replica. Driver memory is O(one
  * event): no row ever buffers on the driver — the bound the cdc56
  * wire-parity gate can't offer is this loop's whole point.
  *
  * Crash/restart story, end to end:
  *   - landing is append-only with a contiguity check per event (the
  *     header's log_pos must equal landed-length + event-size; behind
  *     = already-landed duplicate, skipped; ahead = a gap, refused
  *     loud) — so a re-delivered prefix after reconnect is idempotent;
  *   - on start and on every reconnect the lander TRUNCATES a torn
  *     last event (power-cut mid-append) back to the last complete
  *     boundary, then resumes the dump from (last file, landed
  *     length) — the server replays nothing it already shipped;
  *   - socket loss reconnects up to `maxReconnects` times (fresh
  *     handshake, resume from landed state); heartbeats are liveness
  *     only and never advance landing state;
  *   - each fold is one [[CdcFanout.appendTables]] commit: a crash
  *     before it leaves files no commit lists, so a killed-and-
  *     restarted tail re-decodes at most one fold's bytes and replays
  *     ZERO rows into the frames; the restart's [[graft.ops.IndexLog.gc]]
  *     deletes the crashed fold's files.
  *
  * Deployment: `landRoot` must be an append-capable filesystem shared
  * with the executors (local disk under local[k], NFS or HDFS-style
  * mounts on a cluster — object stores don't append and belong on the
  * READ side via scheme-qualified roots, LogFs). The landed files are
  * the system of record for replay; retain or compact them by binlog
  * retention policy exactly as mysqld's own logs.
  *
  * The loop returns when the server ends the dump (EOF — a stand-in
  * server's catch-up semantics; a real mysqld holds the dump open
  * forever, making this the daemon body `CdcFanout.tailTables` is for
  * files).
  */
object ReplicaTail {

  final case class TailResult(folds: Int, reconnects: Int,
      eventsLanded: Long, bytesLanded: Long, heartbeats: Long,
      foldSeconds: Double, tables: Map[(String, String), DataFrame]) {
    def indexFile(landRoot: String): String = s"$landRoot/mysql-bin.index"
  }

  /** Per-source applied-GTID high-water marks of a replica change frame
    * (any frame carrying the envelope's `__source_id`/`__gtid`
    * columns): the executed set to hand `MysqlReplica.dumpFrom` so the
    * server SKIPS every already-applied transaction (auto-position
    * resume — zero replayed rows even when no landed log exists, e.g.
    * a consumer that keeps frames but rotated the raw log away). The
    * driver collect is bounded by the number of distinct source server
    * uuids — topology-sized, not data-sized. */
  def executedGtids(frame: DataFrame): Map[String, Long] = {
    import org.apache.spark.sql.functions.{col, max}
    import graft.cdc.CdcSchema
    frame.groupBy(col(CdcSchema.SourceIdCol))
      .agg(max(col(CdcSchema.GtidCol)).as("hi"))
      .collect().flatMap { r =>
        Option(r.getString(0)).filter(_.nonEmpty)
          .filter(_ => !r.isNullAt(1) && r.getLong(1) >= 1L)
          .map(_ -> r.getLong(1))
      }.toMap
  }

  /** Default fold granularity: `spark.graft.replica.maxBytesPerFold`
    * (bytes of landed log per incremental decode), 64 MiB — small
    * enough that analytics lag the wire by seconds, large enough that
    * fold overhead (one Spark job + one commit) amortizes. */
  private def foldBytes(spark: SparkSession, explicit: Long): Long =
    if (explicit > 0) explicit
    else spark.conf.get("spark.graft.replica.maxBytesPerFold",
      (64L * 1024 * 1024).toString).toLong

  def run(spark: SparkSession, host: String, port: Int, user: String,
      password: String, serverId: Long, tables: Seq[(String, String)],
      landRoot: String, outRoot: String, maxBytesPerFold: Long = 0L,
      maxReconnects: Int = 3): TailResult = {
    require(tables.nonEmpty, "replicaTail: no tables requested")
    val maxFold = foldBytes(spark, maxBytesPerFold)
    val lander = new Lander(landRoot)
    graft.ops.IndexLog.gc(spark, outRoot)
    var folds = 0
    var reconnects = 0
    var heartbeats = 0L
    var events = 0L
    var bytesSinceFold = 0L
    var foldNanos = 0L

    // a fold may legitimately arrive before the landed log mentions a
    // requested table (the tail started mid-history): defer, retry on
    // the next fold — anything else fails loud
    def fold(): Unit = {
      val t0 = System.nanoTime()
      lander.sync()
      try {
        CdcFanout.appendTables(spark, lander.indexPath, tables, outRoot,
          format = "mysql")
        folds += 1
        bytesSinceFold = 0L
      } catch {
        case e: IllegalArgumentException
            if e.getMessage != null && e.getMessage.contains("no TABLE_MAP") =>
        // schema not landed yet — fold again once more bytes arrive
      } finally foldNanos += System.nanoTime() - t0
    }

    var done = false
    while (!done) {
      lander.recover()
      val (resumeFile, resumePos) = lander.resume
      val sess = MysqlReplica.connect(host, port, user, password)
      try {
        sess.registerSlave(serverId)
        val raw = sess.dumpRaw(serverId, resumeFile, resumePos)
        try {
          // consecutive heartbeats = a genuinely IDLE socket (a lone
          // heartbeat interleaved between events is just the server's
          // periodic liveness and must NOT trigger a fold per packet —
          // that would turn the byte-budget cadence into a
          // fold-per-heartbeat storm on a busy stream)
          var hbRun = 0
          while (raw.hasNext) {
            raw.next() match {
              case DumpItem.FileSwitch(name, pos) =>
                lander.switchTo(name, pos)
              case DumpItem.Event(bytes, _, endPos) =>
                hbRun = 0
                if (lander.append(bytes, endPos)) {
                  events += 1
                  bytesSinceFold += bytes.length
                  if (bytesSinceFold >= maxFold) fold()
                }
              case DumpItem.Heartbeat =>
                heartbeats += 1
                hbRun += 1
                // idle with bytes pending: don't sit on landed bytes
                // below the fold threshold
                if (hbRun >= 2 && bytesSinceFold > 0) fold()
            }
          }
          done = true // server ended the dump (EOF)
        } catch {
          case e: IOException =>
            reconnects += 1
            if (reconnects > maxReconnects)
              throw new IOException(
                s"replicaTail: socket lost and $maxReconnects reconnects " +
                  s"exhausted (last: ${e.getMessage}) — landed state at " +
                  s"$landRoot is consistent; rerun to resume", e)
        }
      } finally {
        sess.close()
        lander.closeCurrent()
      }
    }
    // final fold: everything landed is decoded into the frames
    val tF = System.nanoTime()
    lander.sync()
    val dests = CdcFanout.appendTables(spark, lander.indexPath, tables,
      outRoot, format = "mysql")
    folds += 1
    foldNanos += System.nanoTime() - tF
    TailResult(folds, reconnects, events, lander.bytesWritten, heartbeats,
      foldNanos / 1e9, dests)
  }

  /** Append-only landed-binlog directory state. java.io by design: the
    * landing node needs real append + truncate, which local/NFS/HDFS
    * mounts give and object-store FS clients don't (the READ side —
    * the fold's distributed decode — goes through LogFs and takes any
    * scheme). */
  private final class Lander(landRoot: String) {
    val indexPath = s"$landRoot/mysql-bin.index"
    new File(landRoot).mkdirs()

    private var names: Vector[String] = readIndex()
    private var curName: String = _
    private var curOut: FileOutputStream = _
    private var curLen: Long = 0L
    private[ReplicaTail] var bytesWritten: Long = 0L

    private def readIndex(): Vector[String] = {
      val f = new File(indexPath)
      if (!f.exists()) Vector.empty
      else {
        val src = scala.io.Source.fromFile(f, "UTF-8")
        try src.getLines().map(_.trim).filter(_.nonEmpty)
          .map(l => l.substring(l.lastIndexOf('/') + 1)).toVector
        finally src.close()
      }
    }

    private def pathOf(name: String) = s"$landRoot/$name"

    /** Start/reconnect recovery: truncate the last landed file back to
      * its last COMPLETE event boundary (a crash can tear the final
      * OS-level write), so the resume position handed to the server is
      * always an event boundary. */
    def recover(): Unit = {
      closeCurrent()
      names = readIndex()
      names.lastOption.foreach { name =>
        val p = pathOf(name)
        val f = new File(p)
        if (!f.exists() || f.length() < MagicLen) {
          // torn creation: rewrite from the magic
          val o = new FileOutputStream(p)
          try o.write(Magic) finally o.close()
        } else {
          val complete = MysqlBinlogAdapter.lastCompleteOffset(p)
          if (complete < f.length()) {
            val raf = new java.io.RandomAccessFile(p, "rw")
            try raf.setLength(complete) finally raf.close()
          }
        }
      }
    }

    /** (file, pos) to resume the dump from: the last landed file at
      * its landed length — empty/4 for a fresh root (server serves
      * from its first file). */
    def resume: (String, Long) = names.lastOption match {
      case None => ("", MagicLen.toLong)
      case Some(name) => (name, new File(pathOf(name)).length())
    }

    /** The server's ROTATE cue: subsequent events belong to `name`,
      * next expected at `pos`. A known file re-opens for append (the
      * resume echo); a new file is created (magic) and committed to
      * the index AFTER the file exists, so a crash between leaves an
      * orphan the next switchTo truncates — never a phantom index
      * entry. */
    def switchTo(name: String, pos: Long): Unit = {
      closeCurrent()
      require(!name.contains('/') && !name.contains("..") && name.nonEmpty,
        s"replicaTail: server sent a path-shaped binlog name '$name'")
      val p = pathOf(name)
      if (names.contains(name)) {
        curLen = new File(p).length()
        require(pos <= curLen,
          s"replicaTail: server resumes $name at $pos but only $curLen " +
            "bytes are landed — the landed root does not match this server")
      } else {
        val o = new FileOutputStream(p) // truncates an orphan
        try o.write(Magic) finally o.close()
        curLen = MagicLen.toLong
        val io = new FileOutputStream(indexPath, true)
        try io.write(s"$name\n".getBytes("UTF-8")) finally io.close()
        names = names :+ name
      }
      curName = name
      curOut = new FileOutputStream(p, true)
    }

    /** Append one served event iff it extends the landed file exactly
      * (`endPos - size == landed length`): behind = the server
      * re-shipped an already-landed suffix (resume overlap) — skip;
      * ahead = a gap the protocol forbids — fail loud. Returns whether
      * bytes landed. */
    def append(bytes: Array[Byte], endPos: Long): Boolean = {
      require(curOut != null,
        "replicaTail: dump event before any ROTATE file cue")
      val start = endPos - bytes.length
      if (endPos == 0 || start < curLen) return false // duplicate/artifact
      require(start == curLen,
        s"replicaTail: gap in $curName — landed $curLen bytes but the " +
          s"server's next event spans [$start, $endPos); the landed root " +
          "does not match this server's log")
      curOut.write(bytes)
      curLen = endPos
      bytesWritten += bytes.length
      true
    }

    /** Durability point before each fold: landed bytes reach the disk
      * before the fold's commit can record offsets past them. */
    def sync(): Unit = if (curOut != null) {
      curOut.flush()
      curOut.getFD.sync()
    }

    def closeCurrent(): Unit = {
      if (curOut != null) {
        curOut.flush()
        curOut.close()
        curOut = null
      }
      curName = null
    }
  }
}
