package graftbench

import java.io.File

import scala.collection.mutable

import graft.cdc.MysqlBinlog
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** `cdc_history`: one client in a closed loop over the seeded binlog. Each
  * round runs, in a seeded order, one full-decode aggregate (every column
  * of every row, so no pushdown applies), one `Cdc.latestImage`
  * compaction reduced to a checksum, and `Lookups` narrow `__gtid`-window
  * counts that each need one or two files. Decode and batch planning and
  * pruning carry nearly all the work. */
object History {
  val Lookups = 20

  def load(spark: SparkSession, log: File): DataFrame =
    spark.read.format("binlogcdc")
      .option("indexFile", new File(log, "binlog.index").getPath)
      .option("database", LogGen.Db).option("table", LogGen.Orders)
      .option("binlogFormat", "mysql").load()

  def run(a: Args, r: Result, tr: Tracer): SparkSession = {
    val log = new File(a.inputs, "log")
    val truth = LogGen.Truth.load(new File(a.inputs, "truth.bin"))
    val nFiles = truth.fileFirstGtid.length
    val txnsPerFile = truth.nTxns / nFiles
    // set-up: session start, schema inference over the log's TABLE_MAPs,
    // and the first run of both whole-log query shapes, over the first
    // four files (one per core)
    val (spark, df) = Main.setUp(a, r, tr) { s =>
      val d = load(s, log)
      val first = d.filter(col("__gtid") < truth.fileFirstGtid(math.min(4, nFiles - 1)))
      fullDecode(first).collect()
      compaction(first).collect()
      d
    }
    val sc = spark.sparkContext
    // warm-up, untimed: lookups, so the planning and pruning path is
    // compiled before the first timed op whatever the seeded op order
    val w0 = System.nanoTime()
    val warm = new java.util.SplittableRandom(a.seed * 7919 + 2)
    (0 until Lookups).foreach(_ => lookup(df, warm, truth, txnsPerFile)._1.collect())
    r.info("warmup_s") = Stats.secs(w0)
    val rnd = new java.util.SplittableRandom(a.seed * 7919 + 1)
    val lookupS = mutable.ArrayBuffer.empty[Double]
    val fullS = mutable.ArrayBuffer.empty[Double]
    val compactS = mutable.ArrayBuffer.empty[Double]
    var scanRows = 0L
    val gc0 = Main.gcSeconds()
    val t0 = System.nanoTime()
    var round = 0
    while (Stats.secs(t0) < a.seconds) {
      val ops = (Seq("full", "compact") ++ Seq.fill(Lookups)("lookup")).toArray
      // seeded Fisher-Yates over the round's ops
      var i = ops.length - 1
      while (i > 0) { val j = rnd.nextInt(i + 1); val x = ops(i); ops(i) = ops(j); ops(j) = x; i -= 1 }
      ops.iterator.takeWhile(_ => Stats.secs(t0) < a.seconds).foreach {
        case "full" =>
          val q = fullDecode(df)
          val s0 = System.nanoTime()
          val row = tr.op(sc, "full", "sources") { collect(tr, q) }.head
          fullS += Stats.secs(s0)
          scanRows += truth.totalRows
          r.check(row.getLong(0) == truth.totalRows && row.getLong(1) == truth.totalIdSum,
            s"full-decode: got (${row.getLong(0)}, ${row.getLong(1)}), " +
              s"want (${truth.totalRows}, ${truth.totalIdSum})")
        case "compact" =>
          val q = compaction(df)
          val s0 = System.nanoTime()
          val row = tr.op(sc, "compact", "queries") { collect(tr, q) }.head
          compactS += Stats.secs(s0)
          scanRows += truth.totalRows
          val (n, ids, qty, cents) = truth.image
          val got = (row.getLong(0), row.getLong(1), row.getLong(2),
            row.getDecimal(3).movePointRight(2).longValueExact())
          r.check(got == ((n, ids, qty, cents)),
            s"latest image: got $got, want ${(n, ids, qty, cents)}")
        case "lookup" =>
          val (q, lo, hi) = lookup(df, rnd, truth, txnsPerFile)
          val s0 = System.nanoTime()
          val row = tr.op(sc, "lookup", "sources") { collect(tr, q) }.head
          lookupS += Stats.secs(s0)
          val (n, ids) = truth.window(lo, hi)
          r.check(row.getLong(0) == n && (n == 0 || row.getLong(1) == ids),
            s"lookup [$lo,$hi]: got (${row.getLong(0)}, ${row.get(1)}), want ($n, $ids)")
      }
      round += 1
    }
    val windowS = Stats.secs(t0)
    val gcS = Main.gcSeconds() - gc0
    require(lookupS.nonEmpty && (fullS.nonEmpty || compactS.nonEmpty),
      s"${a.seconds}s measured too little: ${lookupS.length} lookups, " +
        s"${fullS.length + compactS.length} whole-log queries")
    r.e2e("rows_per_s") = scanRows / (fullS.sum + compactS.sum)
    r.e2e("op_p50_s") = Stats.median(lookupS.toSeq)
    r.e2e("op_tail_s") = Stats.pct(lookupS.toSeq, 0.9)
    r.e2e("op2_s") = Stats.median(compactS.toSeq)
    r.e2e("op3_s") = Stats.median(fullS.toSeq)
    r.info ++= Seq("rounds" -> round, "lookups" -> lookupS.length, "full_scans" -> fullS.length,
      "compactions" -> compactS.length, "window_s" -> windowS,
      "log_bytes" -> log.listFiles().filter(_.getName.startsWith("mysql-bin")).map(_.length).sum,
      "log_files" -> nFiles, "orders_row_events" -> truth.totalRows,
      "transactions" -> truth.nTxns)
    r.layers("spark.gc_s") = gcS
    if (tr.on) {
      tr.drain(sc)
      val lookups = tr.opSpans("lookup")
      val scans = tr.opSpans("full") ++ tr.opSpans("compact")
      r.layers("sources.plan_s") = Stats.median(lookups.flatMap(_.attrs.get("plan_s")))
      val pruned = lookups.flatMap(_.attrs.get("files_pruned")).sum
      r.layers("sources.files_pruned_ratio") = pruned / (lookups.length.toDouble * nFiles)
      val all = lookups ++ scans
      r.layers("sources.rows_per_event") = all.flatMap(_.attrs.get("rows_emitted")).sum /
        math.max(1.0, all.flatMap(_.attrs.get("events_decoded")).sum)
      val full = tr.opSpans("full")
      r.layers("sources.scan_task_cpu_s") = Stats.median(full.map(s => tr.workOf(s).taskCpuNs.get / 1e9))
      r.layers("sources.scan_tasks") = Stats.median(full.map(s => tr.workOf(s).tasks.get.toDouble))
      r.layers("sources.shuffle_bytes") =
        Stats.median(tr.opSpans("compact").map(s => tr.workOf(s).shuffleWriteBytes.get.toDouble))
      r.layers("sources.spill_bytes") = all.map(s => tr.workOf(s).spillBytes.get.toDouble).sum
      r.layers("sources.driver_gap_s") = Stats.median(lookups.map(tr.driverGapS))
      Layers.decode(r, new File(log, LogGen.fileName(0)).getPath)
    }
    spark
  }

  /** A `__gtid` window a quarter of a file wide at a random start: one
    * file after pruning, or two when it straddles a rotation. */
  def lookup(df: DataFrame, rnd: java.util.SplittableRandom, truth: LogGen.Truth,
      txnsPerFile: Int): (DataFrame, Long, Long) = {
    val width = txnsPerFile / 4
    val lo = 1L + rnd.nextInt(truth.nTxns - width)
    val hi = lo + width - 1
    (df.filter(col("__gtid").between(lo, hi)).agg(count(lit(1)), sum(col("id"))), lo, hi)
  }

  /** Every column of every row: no pushdown can answer it. */
  def fullDecode(d: DataFrame): DataFrame =
    d.agg(count(lit(1)), sum(col("id")), sum(col("qty")), sum(col("amount")),
      max(col("ts")), sum(length(col("note"))), max(col("__tm")),
      countDistinct(col("__source_id")))

  /** The latest image per key, reduced to a checksum. */
  def compaction(d: DataFrame): DataFrame =
    graft.queries.Cdc.latestImage(d, Seq("id"))
      .agg(count(lit(1)), sum(col("id")), sum(col("qty").cast("long")), sum(col("amount")))

  /** Collect a query; traced, also time its physical planning and read
    * the CDC scan's DSv2 metrics off the executed plan. */
  def collect(tr: Tracer, q: DataFrame): Array[org.apache.spark.sql.Row] =
    if (!tr.on) q.collect()
    else {
      val qe = q.queryExecution
      val p0 = System.nanoTime()
      tr.call("executedPlan", "sources") { qe.executedPlan }
      tr.attr("plan_s", Stats.secs(p0))
      val rows = tr.call("collect", "sources") { q.collect() }
      val plan = qe.executedPlan
      tr.attr("files_pruned", Trace.metric(plan, "cdcFilesPruned").toDouble)
      tr.attr("rows_emitted", Trace.metric(plan, "cdcRowsEmitted").toDouble)
      tr.attr("events_decoded", Trace.metric(plan, "cdcEventsDecoded").toDouble)
      rows
    }
}

/** Single-thread probes of the `graft.cdc` layer, run by traced runs. */
object Layers {
  /** One thread over one log file: `RowDecoder` rows per second (framing
    * included, as a reader pays it) and the `EventReader` CRC-only walk
    * that the stream's frontier probe repeats every trigger. Best of
    * three passes, so JIT warm-up does not count. */
  def decode(r: Result, path: String): Unit = {
    val bytes = new File(path).length()
    var bestDecode = 0.0
    var bestFrame = 0.0
    (0 until 3).foreach { _ =>
      var t0 = System.nanoTime()
      val rd = new MysqlBinlog.EventReader(path)
      val dec = new MysqlBinlog.RowDecoder(LogGen.Db, LogGen.Orders)
      var rows = 0L
      try while (rd.hasNext) rows += dec.decode(rd.next()).size finally rd.close()
      bestDecode = math.max(bestDecode, rows / Stats.secs(t0))
      t0 = System.nanoTime()
      val fr = new MysqlBinlog.EventReader(path)
      try while (fr.hasNext) fr.next() finally fr.close()
      bestFrame = math.max(bestFrame, bytes / 1048576.0 / Stats.secs(t0))
    }
    r.layers("cdc.decode_rows_per_s") = bestDecode
    r.layers("cdc.framing_mb_per_s") = bestFrame
  }
}
