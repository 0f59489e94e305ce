package graftbench

import java.io.File
import java.nio.ByteBuffer
import java.nio.file.{Files, StandardOpenOption}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** `cdc_tail`: an open loop. One generator thread appends pre-encoded
  * transactions of the seeded log to the active binlog file on a fixed
  * schedule, rotating at the `cdc_history` file size and appending to
  * `binlog.index`, while one `binlogcdc` stream query (default trigger,
  * durable local checkpoint, `foreachBatch` landing parquet) consumes it.
  *
  * Phases: catch-up of a fixed backlog under a bounded
  * `maxBytesPerTrigger`, then a `LowTps` window, then a `HighTps` window.
  * Each orders transaction is timed from when it was due to the end of
  * the `foreachBatch` that landed it. Per-trigger costs dominate: the
  * frontier probe over the growing active file, offset planning, the WAL
  * and commit, and the sink. */
object Tail {
  /** Transactions per second of the two rate windows, fixed from the
    * catch-up rate measured at the commit that defined this benchmark
    * (about 8k transactions/s on 4 cores): the high rate stays well
    * below it. */
  val LowTps = 400
  val HighTps = 1600
  /** Each rate window is this share of `--seconds`. */
  val WindowShare = 0.35
  /** The backlog: seven eighths of the first file, so catch-up stays in
    * one file and the live phase rotates into the next. */
  val BacklogTxns = Gen.TailLayout.txnsPerFile * 7 / 8
  val MaxBytesPerTrigger: Long = 1L << 20
  /** A transaction landing later than this after it was due failed. */
  val FreshLimitS = 5.0

  final case class Txn(gtid: Long, file: Int, start: Long, end: Long)
  final case class Landed(batch: Long, maxGtid: Long, endNs: Long, rows: Long)

  def stream(spark: SparkSession, log: File): DataFrame =
    spark.readStream.format("binlogcdc")
      .option("indexFile", new File(log, "binlog.index").getPath)
      .option("database", LogGen.Db).option("table", LogGen.Orders)
      .option("binlogFormat", "mysql")
      .option("maxBytesPerTrigger", MaxBytesPerTrigger.toString)
      .load()
      .select(col("id"), col("qty"), col("__op"), col("__gtid"))

  def start(spark: SparkSession, log: File, dir: File,
      landed: ConcurrentLinkedQueue[Landed]): StreamingQuery = {
    val sink = new File(dir, "sink").getPath
    stream(spark, log).writeStream
      .option("checkpointLocation", new File(dir, "checkpoint").getPath)
      .foreachBatch { (df: DataFrame, id: Long) =>
        val d = df.persist()
        try {
          d.write.parquet(s"$sink/batch=$id")
          val m = d.agg(max(col("__gtid")), count(lit(1))).head()
          if (m.getLong(1) > 0) landed.add(Landed(id, m.getLong(0), System.nanoTime(), m.getLong(1)))
        } finally d.unpersist()
        ()
      }
      .start()
  }

  def run(a: Args, r: Result, tr: Tracer): SparkSession = {
    val src = new File(a.inputs, "log")
    val truth = LogGen.Truth.load(new File(a.inputs, "truth.bin"))
    val nFiles = truth.fileFirstGtid.length
    val srcFiles = (0 until nFiles).map(i => new File(src, LogGen.fileName(i)))
    val ranges = srcFiles.map(f => LogGen.txnRanges(f.getPath))
    val bytes = srcFiles.map(f => Files.readAllBytes(f.toPath))
    val txns = ranges.zipWithIndex.flatMap { case ((_, ts), fi) =>
      ts.map { case (g, s, e) => Txn(g, fi, s, e) } }
    val lowN = (LowTps * WindowShare * a.seconds).toInt
    val highN = (HighTps * WindowShare * a.seconds).toInt
    require(BacklogTxns + lowN + highN <= txns.length,
      s"--seconds ${a.seconds} needs ${BacklogTxns + lowN + highN} transactions, " +
        s"the tail log has ${txns.length}")

    // the live log: whole backlog files, then the active file cut at the
    // backlog's last transaction
    val live = new File(a.work, "tail")
    graft.TmpDirs.deleteRecursively(live)
    val log = new File(live, "log")
    log.mkdirs()
    val lastBacklog = txns(BacklogTxns - 1)
    (0 to lastBacklog.file).foreach { fi =>
      val n = if (fi < lastBacklog.file) bytes(fi).length else lastBacklog.end.toInt
      Files.write(new File(log, LogGen.fileName(fi)).toPath, java.util.Arrays.copyOf(bytes(fi), n))
    }
    LogGen.writeIndex(log, lastBacklog.file + 1)

    // set-up: session start and stream start, to the first landed batch
    var probe = 0
    val (spark, _) = Main.setUp(a, r, tr) { s =>
      val dir = new File(live, s"setup-$probe")
      probe += 1
      val landed = new ConcurrentLinkedQueue[Landed]()
      val q = start(s, log, dir, landed)
      val t0 = System.nanoTime()
      while (landed.isEmpty && q.exception.isEmpty && Stats.secs(t0) < 60) Thread.sleep(2)
      q.exception.foreach(e => throw e)
      q.stop()
      graft.TmpDirs.deleteRecursively(dir)
    }

    val backlogOrders = truth.window(1, lastBacklog.gtid)._1
    val lastBacklogOrders = (1L to lastBacklog.gtid).findLast(g => truth.rowsAt(g.toInt) > 0).get
    def seenIn(l: ConcurrentLinkedQueue[Landed]): Long =
      l.asScala.foldLeft(0L)((m, x) => math.max(m, x.maxGtid))

    // warm-up, untimed: one whole catch-up by a throwaway query, so the
    // timed phases do not run on code the JIT has not compiled yet
    val w0 = System.nanoTime()
    val warmDir = new File(live, "warmup")
    val warmLanded = new ConcurrentLinkedQueue[Landed]()
    val wq = start(spark, log, warmDir, warmLanded)
    while (seenIn(warmLanded) < lastBacklogOrders && wq.exception.isEmpty && Stats.secs(w0) < 90)
      Thread.sleep(2)
    wq.exception.foreach(e => throw e)
    wq.stop()
    graft.TmpDirs.deleteRecursively(warmDir)
    r.info("warmup_s") = Stats.secs(w0)

    val landed = new ConcurrentLinkedQueue[Landed]()
    def seen: Long = seenIn(landed)
    val gc0 = Main.gcSeconds()
    val tStart = System.nanoTime()
    val q = tr.op(spark.sparkContext, "stream", "sources") {
      start(spark, log, new File(live, "run"), landed)
    }
    while (seen < lastBacklogOrders && q.exception.isEmpty && Stats.secs(tStart) < 90)
      Thread.sleep(1)
    q.exception.foreach(e => throw e)
    require(seen >= lastBacklogOrders, "catch-up did not finish within 90 s")
    val catchupS = Stats.secs(tStart)
    val landedAtCatchup = landed.size

    // the open loop: due times are fixed before the first append
    val live0 = BacklogTxns
    val tLow = System.nanoTime() + 50000000L
    val due = new Array[Long](lowN + highN)
    var i = 0
    while (i < lowN + highN) {
      due(i) =
        if (i < lowN) tLow + (i * 1e9 / LowTps).toLong
        else tLow + (lowN * 1e9 / LowTps).toLong + ((i - lowN) * 1e9 / HighTps).toLong
      i += 1
    }
    @volatile var lateMaxNs = 0L
    @volatile var genError: Throwable = null
    val gen = new Thread(() => {
      try {
        var fileIdx = lastBacklog.file
        var ch = Files.newByteChannel(new File(log, LogGen.fileName(fileIdx)).toPath,
          StandardOpenOption.WRITE, StandardOpenOption.APPEND)
        var k = 0
        while (k < due.length) {
          val now0 = System.nanoTime()
          if (due(k) > now0) java.util.concurrent.locks.LockSupport.parkNanos(due(k) - now0)
          else {
            // everything due by now goes out in one append per file
            val now = System.nanoTime()
            while (k < due.length && due(k) <= now) {
              val t = txns(live0 + k)
              if (t.file != fileIdx) {
                ch.close()
                fileIdx = t.file
                val head = ranges(fileIdx)._1.toInt
                Files.write(new File(log, LogGen.fileName(fileIdx)).toPath,
                  java.util.Arrays.copyOf(bytes(fileIdx), head))
                LogGen.writeIndex(log, fileIdx + 1)
                ch = Files.newByteChannel(new File(log, LogGen.fileName(fileIdx)).toPath,
                  StandardOpenOption.WRITE, StandardOpenOption.APPEND)
              }
              // contiguous due transactions of one file: one write
              var j = k
              while (j + 1 < due.length && due(j + 1) <= now && txns(live0 + j + 1).file == fileIdx) j += 1
              val s = txns(live0 + k).start.toInt
              val e = txns(live0 + j).end.toInt
              val buf = ByteBuffer.wrap(bytes(fileIdx), s, e - s)
              while (buf.hasRemaining) ch.write(buf)
              lateMaxNs = math.max(lateMaxNs, System.nanoTime() - due(k))
              k = j + 1
            }
          }
        }
        ch.close()
      } catch { case e: Throwable => genError = e }
    }, "graftbench-generator")
    gen.setDaemon(true)
    gen.start()
    // sample the stream's lag as the high window ends
    val highEnd = due.last
    while (System.nanoTime() < highEnd && gen.isAlive) Thread.sleep(5)
    gen.join()
    if (genError != null) throw genError
    val behindEnd = Option(q.lastProgress).flatMap(p => p.sources.headOption)
      .flatMap(s => Option(s.metrics.get("behindBytes"))).map(_.toDouble).getOrElse(0.0)
    val released = txns(live0 + due.length - 1).gtid
    val lastReleasedOrders = (lastBacklog.gtid + 1 to released).findLast(g => truth.rowsAt(g.toInt) > 0).get
    val tDrain = System.nanoTime()
    while (seen < lastReleasedOrders && q.exception.isEmpty && Stats.secs(tDrain) < FreshLimitS + 1)
      Thread.sleep(1)
    q.exception.foreach(e => throw e)
    q.stop()
    val gcS = Main.gcSeconds() - gc0

    // freshness per released orders transaction, in log order
    val batches = landed.asScala.toSeq.sortBy(_.batch)
    val low = mutable.ArrayBuffer.empty[Double]
    val high = mutable.ArrayBuffer.empty[Double]
    var b = 0
    (0 until due.length).foreach { k =>
      val g = txns(live0 + k).gtid
      if (truth.rowsAt(g.toInt) > 0) {
        while (b < batches.length && batches(b).maxGtid < g) b += 1
        val f = if (b < batches.length) (batches(b).endNs - due(k)) / 1e9 else Double.PositiveInfinity
        r.check(f <= FreshLimitS, s"transaction $g landed after ${f}s (limit ${FreshLimitS}s)")
        if (f.isFinite) (if (k < lowN) low else high) += f
      }
    }
    // exactly once: counts and id sums per gtid range equal the truth
    val step = 2000L
    val got = spark.read.parquet(new File(live, "run/sink").getPath)
      .groupBy((col("__gtid") / step).cast("long").as("r"))
      .agg(count(lit(1)), sum(col("id"))).collect()
      .map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2)))).toMap
    (0L to released / step).foreach { rg =>
      val want = truth.window(math.max(1L, rg * step), math.min(released, rg * step + step - 1))
      val have = got.getOrElse(rg, (0L, 0L))
      r.check(have == want, s"gtids [${rg * step}, ${rg * step + step}): landed $have, want $want")
    }
    got.keys.filter(_ > released / step).foreach(rg =>
      r.check(ok = false, s"rows landed beyond the released log, range $rg"))

    r.e2e("rows_per_s") = backlogOrders / catchupS
    r.e2e("op_p50_s") = Stats.median(low.toSeq)
    r.e2e("op_tail_s") = Stats.pct(low.toSeq, 0.99)
    r.e2e("op2_s") = Stats.median(high.toSeq)
    r.e2e("op3_s") = Stats.pct(high.toSeq, 0.99)
    r.info ++= Seq("catchup_s" -> catchupS, "backlog_orders_rows" -> backlogOrders,
      "backlog_txns" -> BacklogTxns, "low_txns" -> lowN, "high_txns" -> highN,
      "low_tps" -> LowTps, "high_tps" -> HighTps, "batches" -> batches.length,
      "catchup_batches" -> landedAtCatchup, "gen_late_max_s" -> lateMaxNs / 1e9,
      "files_at_end" -> (fileCount(log)))
    r.layers("spark.gc_s") = gcS
    r.layers("stream.gen_late_max_s") = lateMaxNs / 1e9
    if (tr.on) {
      tr.drain(spark.sparkContext)
      // the measured query only: set-up probes and the warm-up report too
      val mine = tr.progress.asScala.toSeq.filter(_.id == q.id)
      val ps = mine.filter(_.numInputRows > 0)
      def p50(k: String) = Stats.median(ps.flatMap(p => Option(p.durationMs.get(k)).map(_.toDouble)))
      r.layers("stream.latest_offset_ms") = p50("latestOffset")
      r.layers("stream.plan_ms") = p50("queryPlanning")
      r.layers("stream.get_batch_ms") = p50("getBatch")
      r.layers("stream.add_batch_ms") = p50("addBatch")
      r.layers("stream.wal_commit_ms") = p50("walCommit")
      r.layers("stream.commit_offsets_ms") = p50("commitOffsets")
      r.layers("stream.trigger_ms") = p50("triggerExecution")
      r.layers("stream.batches") = ps.length
      r.layers("stream.rows_per_batch") = ps.map(_.numInputRows.toDouble).sum / math.max(1, ps.length)
      r.layers("stream.behind_bytes_end") = behindEnd
      Layers.decode(r, srcFiles(0).getPath)
      tr.extra = mine.map(_.json)
    }
    spark
  }

  private def fileCount(log: File): Int =
    log.listFiles().count(_.getName.startsWith("mysql-bin"))
}
