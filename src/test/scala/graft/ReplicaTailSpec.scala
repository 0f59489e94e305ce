package graft

import java.io.{File, FileOutputStream}
import java.nio.file.Files

import graft.cdc.{FakeMysqld, MysqlBinlog, MysqlReplica}
import graft.sources.ReplicaTail
import org.apache.spark.sql.types._

/** The land-then-read replication loop (ReplicaTail): one socket lands
  * the server's own event bytes into a binlog directory, the
  * distributed fan-out decode folds the landed growth into per-table
  * frames. Pinned here: byte-identical landing, incremental mid-run
  * growth folding, reconnect-and-resume after an abrupt socket drop,
  * and the restart story — a killed-and-restarted loop replays ZERO
  * rows because both the landing (contiguity-checked appends) and the
  * fold (one commit per increment) are idempotent.
  */
class ReplicaTailSpec extends SparkTestBase {

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("v", LongType),
    StructField("s", StringType)))

  private def r(id: Long): Array[Any] = Array[Any](id, id * 10, s"row$id")

  /** `nTxns` single-insert transactions split across two binlog files
    * (rotation after `splitAt`), CRC32-checksummed — the multi-file
    * resume/rotation shape. Returns (dir, file paths). */
  private def writeLogs(nTxns: Int, splitAt: Int): (String, Seq[String]) = {
    val dir = Files.createTempDirectory("rtail-spec").toString
    def newFile(i: Int): (String, MysqlBinlog.Writer) = {
      val p = f"$dir/binlog.$i%06d"
      (p, new MysqlBinlog.Writer(p, checksum = true))
    }
    var (p0, w) = newFile(0)
    val paths = Seq.newBuilder[String]
    paths += p0
    (1 to nTxns).foreach { g =>
      if (g == splitAt + 1) {
        w.close()
        val (p1, w1) = newFile(1)
        paths += p1
        w = w1
      }
      w.tableMap(g * 1000L, 7L, "db", "t", schema)
      w.gtid(g * 1000L, g.toLong, "aaaaaaaa-bbbb-cccc-dddd-eeeeeeeeeeee")
      w.writeRows(g * 1000L, 7L, schema, Seq(r(g.toLong)))
    }
    w.close()
    (dir, paths.result())
  }

  private def bytesOf(p: String): Seq[Byte] =
    Files.readAllBytes(java.nio.file.Paths.get(p)).toSeq

  private def frameIds(frame: org.apache.spark.sql.DataFrame): Seq[Long] =
    frame.select("id")
      .collect().map(_.getLong(0)).toSeq.sorted

  test("land-then-read: landed files byte-identical, frame equals the full decode, multiple folds") {
    val (dir, files) = writeLogs(nTxns = 40, splitAt = 25)
    val srv = new FakeMysqld(files, "repl", "pw")
    try {
      val land = s"$dir/land"
      val out = s"$dir/out"
      val res = ReplicaTail.run(spark, "127.0.0.1", srv.port, "repl", "pw",
        serverId = 21L, tables = Seq(("db", "t")), landRoot = land,
        outRoot = out, maxBytesPerFold = 2048)
      assert(srv.firstFailure.isEmpty, s"server side failed: ${srv.firstFailure}")
      assert(res.reconnects == 0)
      assert(res.folds >= 2,
        s"maxBytesPerFold=2048 over ${res.bytesLanded} landed bytes should " +
          s"fold incrementally, got ${res.folds}")
      // the landed directory IS the server's log: same names, same bytes
      files.foreach { f =>
        val name = f.substring(f.lastIndexOf('/') + 1)
        assert(bytesOf(s"$land/$name") == bytesOf(f),
          s"landed $name diverged from the server's file")
      }
      assert(frameIds(res.tables(("db", "t"))) == (1L to 40L),
        "materialized frame diverged from the log's insert storyline")
    } finally srv.close()
  }

  test("mid-run growth: a producer appending during the dump is folded incrementally") {
    // two writer runs over the same prefix of txns are byte-identical
    // (deterministic events), so "growth" = serving a truncated copy
    // and appending the remainder while the tail runs
    val (dirFull, filesFull) = writeLogs(nTxns = 30, splitAt = 100)
    val full = filesFull.head
    val (dirSmall, filesSmall) = writeLogs(nTxns = 12, splitAt = 100)
    val small = filesSmall.head
    val fullBytes = Files.readAllBytes(java.nio.file.Paths.get(full))
    val smallBytes = Files.readAllBytes(java.nio.file.Paths.get(small))
    assert(fullBytes.take(smallBytes.length).toSeq == smallBytes.toSeq,
      "writer must be deterministic for the growth fixture to be valid")
    val served = s"$dirFull/served.000000"
    Files.write(java.nio.file.Paths.get(served), smallBytes)
    val srv = new FakeMysqld(Seq(served), "repl", "pw",
      heartbeatEvery = 4, live = true)
    try {
      val result = new java.util.concurrent.atomic.AtomicReference[ReplicaTail.TailResult]
      val err = new java.util.concurrent.atomic.AtomicReference[Throwable]
      val t = new Thread(() => {
        try result.set(ReplicaTail.run(spark, "127.0.0.1", srv.port,
          "repl", "pw", serverId = 22L, tables = Seq(("db", "t")),
          landRoot = s"$dirFull/land", outRoot = s"$dirFull/out",
          maxBytesPerFold = 1024))
        catch { case e: Throwable => err.set(e) }
      }, "rtail-growth")
      t.start()
      // grow the served file mid-dump, in two appends
      val mid = smallBytes.length + (fullBytes.length - smallBytes.length) / 2
      // align nothing: raw byte appends tear events arbitrarily — the
      // server's torn-tail walk must wait for completion
      Thread.sleep(300)
      val o = new FileOutputStream(served, true)
      try {
        o.write(fullBytes, smallBytes.length, mid - smallBytes.length)
        o.flush()
        Thread.sleep(300)
        o.write(fullBytes, mid, fullBytes.length - mid)
        o.flush()
      } finally o.close()
      Thread.sleep(300)
      srv.finishLive()
      t.join(120000)
      assert(!t.isAlive, "tail did not finish after finishLive")
      if (err.get() != null) throw err.get()
      assert(srv.firstFailure.isEmpty, s"server side failed: ${srv.firstFailure}")
      val res = result.get()
      assert(res.heartbeats > 0, "live dump should have heartbeat liveness")
      assert(res.folds >= 2,
        s"growth should fold incrementally, got ${res.folds} folds")
      assert(bytesOf(s"$dirFull/land/served.000000") == fullBytes.toSeq)
      assert(frameIds(res.tables(("db", "t"))) == (1L to 30L))
    } finally srv.close()
  }

  test("reconnect-and-resume: an abrupt mid-dump socket drop is invisible in the result") {
    val (dir, files) = writeLogs(nTxns = 40, splitAt = 25)
    val srv = new FakeMysqld(files, "repl", "pw", dropAfterEvents = 30)
    try {
      val res = ReplicaTail.run(spark, "127.0.0.1", srv.port, "repl", "pw",
        serverId = 23L, tables = Seq(("db", "t")), landRoot = s"$dir/land",
        outRoot = s"$dir/out", maxBytesPerFold = 4096)
      assert(srv.firstFailure.isEmpty, s"server side failed: ${srv.firstFailure}")
      assert(res.reconnects >= 1, "the injected drop should force a reconnect")
      files.foreach { f =>
        val name = f.substring(f.lastIndexOf('/') + 1)
        assert(bytesOf(s"$dir/land/$name") == bytesOf(f),
          s"landed $name diverged after reconnect-resume")
      }
      val ids = frameIds(res.tables(("db", "t")))
      assert(ids == (1L to 40L),
        s"reconnect replayed or lost rows: ${ids.length} rows")
    } finally srv.close()
  }

  test("executedGtids composes frame state with auto-position resume: the server skips every applied txn") {
    val (dir, files) = writeLogs(nTxns = 20, splitAt = 100)
    val uuid = "aaaaaaaa-bbbb-cccc-dddd-eeeeeeeeeeee"
    // materialize the first half through the tail, as a consumer would
    val half = java.util.Arrays.copyOf(
      Files.readAllBytes(java.nio.file.Paths.get(files.head)),
      MysqlBinlogAdapterHalf(files.head, 10))
    val served = s"$dir/half.000000"
    Files.write(java.nio.file.Paths.get(served), half)
    val srv1 = new FakeMysqld(Seq(served), "repl", "pw")
    val frame =
      try {
        val r = ReplicaTail.run(spark, "127.0.0.1", srv1.port, "repl", "pw",
          serverId = 25L, tables = Seq(("db", "t")), landRoot = s"$dir/land",
          outRoot = s"$dir/out")
        r.tables(("db", "t"))
      } finally srv1.close()
    val executed = ReplicaTail.executedGtids(frame)
    assert(executed == Map(uuid -> 10L), s"high-water marks: $executed")
    // auto-position resume from FRAME state alone (no landed-log
    // offsets): the server must skip gnos 1-10 and serve 11-20
    val srv2 = new FakeMysqld(files, "repl", "pw")
    try {
      val sess = MysqlReplica.connect("127.0.0.1", srv2.port, "repl", "pw")
      try {
        sess.registerSlave(serverId = 25L)
        val dec = new MysqlBinlog.RowDecoder("db", "t")
        val src = sess.dumpFrom(serverId = 25L, executed = executed)
        val gnos = Seq.newBuilder[Long]
        try {
          while (src.hasNext)
            dec.decode(src.next()).foreach(cr => gnos += cr.gtid)
        } finally src.close()
        assert(gnos.result() == (11L to 20L),
          s"auto-position resume replayed applied txns: ${gnos.result()}")
      } finally sess.close()
      assert(srv2.firstFailure.isEmpty, s"server side failed: ${srv2.firstFailure}")
    } finally srv2.close()
  }

  /** Byte offset after the first `n` transactions of a single-insert-
    * per-txn fixture file (each txn = TABLE_MAP + GTID + WRITE_ROWS,
    * preceded once by the FDE). */
  private def MysqlBinlogAdapterHalf(path: String, n: Int): Int = {
    val reader = new MysqlBinlog.EventReader(path)
    var rows = 0
    var end = 4L
    try {
      while (reader.hasNext && rows < n) {
        val e = reader.next()
        if (e.tpe == MysqlBinlog.EventType.WriteRowsV2) rows += 1
        end = e.endPos
      }
    } finally reader.close()
    end.toInt
  }

  test("killed-and-restarted loop replays ZERO rows: the second run lands and decodes only the delta") {
    val (dir, files) = writeLogs(nTxns = 40, splitAt = 25)
    // run 1: the server only has file 0 (then "the tail was killed")
    val srv1 = new FakeMysqld(Seq(files.head), "repl", "pw")
    val run1 =
      try {
        val r = ReplicaTail.run(spark, "127.0.0.1", srv1.port, "repl", "pw",
          serverId = 24L, tables = Seq(("db", "t")), landRoot = s"$dir/land",
          outRoot = s"$dir/out", maxBytesPerFold = 4096)
        assert(srv1.firstFailure.isEmpty, s"server side failed: ${srv1.firstFailure}")
        r
      } finally srv1.close()
    assert(frameIds(run1.tables(("db", "t"))) == (1L to 25L))
    // run 2: restart against the full log — resume from landed state
    val srv2 = new FakeMysqld(files, "repl", "pw")
    try {
      val run2 = ReplicaTail.run(spark, "127.0.0.1", srv2.port, "repl", "pw",
        serverId = 24L, tables = Seq(("db", "t")), landRoot = s"$dir/land",
        outRoot = s"$dir/out", maxBytesPerFold = 4096)
      assert(srv2.firstFailure.isEmpty, s"server side failed: ${srv2.firstFailure}")
      // ZERO replay: the second run lands exactly the second file's
      // events (file 1 minus its 4-byte magic) and nothing of file 0
      val file1Len = new File(files(1)).length()
      assert(run2.bytesLanded == file1Len - 4,
        s"restart re-landed already-landed bytes: ${run2.bytesLanded} vs " +
          s"expected ${file1Len - 4}")
      val ids = frameIds(run2.tables(("db", "t")))
      assert(ids == (1L to 40L), "restart lost or duplicated rows")
      assert(ids.distinct.length == ids.length)
      files.foreach { f =>
        val name = f.substring(f.lastIndexOf('/') + 1)
        assert(bytesOf(s"$dir/land/$name") == bytesOf(f))
      }
    } finally srv2.close()
  }
}
