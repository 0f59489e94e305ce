package graft

import java.nio.file.{Files, Paths}

import graft.cdc.{CdcCodec, CdcSchema, MysqlBinlog}
import graft.queries.Cdc
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Logs of keyed changes grouped into transactions, in each wire
  * format, and the log-order fold that latest-image compaction must
  * equal. A step is (key, op, value) with op `Insert`, `UpdateAfter`
  * (written as an update pair) or `Delete`. */
object ChangeLogs {
  val schema: StructType = StructType(Seq(
    StructField("id", LongType), StructField("v", DoubleType)))
  private val Sid = "3e11fa47-71ca-11e1-9e33-c80aa9429562"

  /** The formats [[write]] knows: "mysql-zstd" writes every transaction
    * as one compressed TRANSACTION_PAYLOAD, "mariadb-zlib" every rows
    * event as a MariaDB compressed rows event. */
  val formats: Seq[String] = Seq("gcdc", "mysql", "mysql-zstd", "mariadb-zlib")

  /** Write `txns` (one GTID each, gno 1, 2, ...) as a one-file log in
    * `format`; returns the index file. */
  def write(format: String, txns: Seq[Seq[(Long, Int, Double)]]): String = {
    val dir = Files.createTempDirectory("cdc-changes").toString
    var state = Map.empty[Long, Double]
    def row(k: Long, v: Double): Array[Any] = Array[Any](k, v)
    val file = if (format == "gcdc") "b.0" else "mysql-bin.000001"
    val maria = format == "mariadb-zlib"
    val sink = format match {
      case "gcdc" => new CdcCodec.LogWriter(s"$dir/$file")
      case "mysql" => new MysqlBinlog.Writer(s"$dir/$file")
      case "mysql-zstd" => new MysqlBinlog.Writer(s"$dir/$file", compressTxns = true)
      case "mariadb-zlib" => new MysqlBinlog.Writer(s"$dir/$file", maria = true)
    }
    txns.zipWithIndex.foreach { case (steps, t) =>
      val ts = 1000L * (t + 1)
      sink match {
        case w: CdcCodec.LogWriter => w.gtid(ts, t + 1L)
        case w: MysqlBinlog.Writer if maria => w.gtidMaria(ts, t + 1L, 0L)
        case w: MysqlBinlog.Writer => w.gtid(ts, t + 1L, Sid)
      }
      sink.tableMap(ts, 7L, "db", "t", schema)
      steps.foreach { case (k, op, v) =>
        val before = row(k, state.getOrElse(k, v))
        (sink, op) match {
          case (w: MysqlBinlog.Writer, CdcSchema.Op.Insert) if maria =>
            w.writeRowsCompressed(ts, 7L, schema, Seq(row(k, v)))
          case (w: MysqlBinlog.Writer, CdcSchema.Op.UpdateAfter) if maria =>
            w.updateRowsCompressed(ts, 7L, schema, Seq((before, row(k, v))))
          case (w: MysqlBinlog.Writer, CdcSchema.Op.Delete) if maria =>
            w.deleteRowsCompressed(ts, 7L, schema, Seq(before))
          case (_, CdcSchema.Op.Insert) => sink.writeRows(ts, 7L, schema, Seq(row(k, v)))
          case (_, CdcSchema.Op.UpdateAfter) =>
            sink.updateRows(ts, 7L, schema, Seq((before, row(k, v))))
          case (_, CdcSchema.Op.Delete) => sink.deleteRows(ts, 7L, schema, Seq(before))
        }
        state = if (op == CdcSchema.Op.Delete) state - k else state.updated(k, v)
      }
      sink match {
        case w: MysqlBinlog.Writer => w.xid(ts, t + 1L)
        case _ =>
      }
    }
    sink.close()
    Files.writeString(Paths.get(dir, "binlog.index"), file + "\n")
    s"$dir/binlog.index"
  }

  /** The table a log of `txns` leaves: each step in log order, a delete
    * removing its key. */
  def fold(txns: Seq[Seq[(Long, Int, Double)]]): Map[Long, Double] =
    txns.flatten.foldLeft(Map.empty[Long, Double]) {
      case (m, (k, CdcSchema.Op.Delete, _)) => m - k
      case (m, (k, _, v)) => m.updated(k, v)
    }

  def read(spark: org.apache.spark.sql.SparkSession, format: String,
      index: String): DataFrame =
    spark.read.format("binlogcdc").option("indexFile", index)
      .option("database", "db").option("table", "t")
      .option("binlogFormat", format.takeWhile(_ != '-'))
      .load()

  def latest(df: DataFrame): Map[Long, Double] =
    Cdc.latestImage(df, Seq("id")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
}

/** Latest-image compaction in log order, and the hidden `__pos` column
  * it orders by. */
class LatestImageSpec extends SparkTestBase
    with org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {
  import CdcSchema.Op._

  test("same transaction: latestImage equals the log-order fold") {
    // keys 1-4 inserted in gtid 1; gtid 2 then changes each twice:
    // 1 update→delete, 5 insert→delete, 2 update→update, 3 delete→re-insert
    // (the compressed formats put a transaction's or an event's images
    // in one container, ordered by rank)
    val txns = Seq(
      Seq((1L, Insert, 1.0), (2L, Insert, 1.0), (3L, Insert, 1.0), (4L, Insert, 1.0)),
      Seq((1L, UpdateAfter, 2.0), (5L, Insert, 5.0), (2L, UpdateAfter, 2.0),
        (3L, Delete, 0.0), (1L, Delete, 0.0), (5L, Delete, 0.0),
        (2L, UpdateAfter, 3.0), (3L, Insert, 4.0)))
    val want = ChangeLogs.fold(txns)
    assert(want == Map(2L -> 3.0, 3L -> 4.0, 4L -> 1.0))
    ChangeLogs.formats.foreach { f =>
      val got = ChangeLogs.latest(ChangeLogs.read(spark, f, ChangeLogs.write(f, txns)))
      assert(got == want, s"$f")
    }
  }

  test("__pos: hidden, and strictly increasing in log order across files") {
    val txns = Seq(
      Seq((1L, Insert, 1.0), (2L, Insert, 2.0)),
      Seq((1L, UpdateAfter, 3.0), (2L, Delete, 0.0)))
    // two one-file logs become one two-file log
    val index = ChangeLogs.write("mysql", txns)
    val second = CdcCodec.readIndex(ChangeLogs.write("mysql", txns)).head
    val dir = Paths.get(index).getParent
    Files.copy(Paths.get(second), dir.resolve("mysql-bin.000002"))
    Files.writeString(Paths.get(index), "mysql-bin.000001\nmysql-bin.000002\n")
    val df = ChangeLogs.read(spark, "mysql", index)
    assert(!df.columns.contains(CdcSchema.PosCol))
    assert(!df.select("*").columns.contains(CdcSchema.PosCol))
    // a scan without a shuffle collects its partitions in file order
    val pos = df.select(df.metadataColumn(CdcSchema.PosCol)).collect().map(_.getLong(0))
    assert(pos.length == 10) // per file: two inserts, an update pair, a delete
    assert(pos.sliding(2).forall { case Array(a, b) => a < b })
    assert(pos.map(_ >>> 32).toSeq == Seq.fill(5)(0L) ++ Seq.fill(5)(1L))
    // the same offsets in both files, each past the v4 header
    assert(pos.take(5).toSeq == pos.drop(5).map(_ & 0xffffffffL).toSeq)
    assert(pos.forall(p => (p & 0xffffffffL) >= MysqlBinlog.HeaderLen))
  }

  test("a scan that does not read __pos does the same work and keeps its schema") {
    val index = ChangeLogs.write("mysql", Seq(
      Seq((1L, Insert, 1.0), (2L, Insert, 2.0)),
      Seq((1L, UpdateAfter, 3.0), (2L, Delete, 0.0))))
    val df = ChangeLogs.read(spark, "mysql", index)
    assert(df.schema == CdcSchema.withEnvelope(ChangeLogs.schema))
    def work(q: DataFrame): (Seq[String], Long, Long) = {
      q.collect()
      val scan = collect(q.queryExecution.executedPlan) { case b: BatchScanExec => b }.head
      (scan.output.map(_.name), scan.metrics("cdcEventsDecoded").value,
        scan.metrics("cdcRowsEmitted").value)
    }
    val (plain, events, rows) = work(df.select("id", "v", "__op"))
    assert(plain == Seq("id", "v", "__op"))
    assert(rows == 5) // two inserts, an update pair, a delete
    val (withPos, events2, rows2) =
      work(df.select(col("id"), col("v"), col("__op"), df.metadataColumn("__pos")))
    assert(withPos == Seq("id", "v", "__op", "__pos"))
    assert((events2, rows2) == ((events, rows)))
  }

  test("compaction plan: one window, no SortAggregate, only the read columns scanned") {
    val index = ChangeLogs.write("mysql", Seq(Seq((1L, Insert, 1.0))))
    val q = Cdc.latestImage(ChangeLogs.read(spark, "mysql", index), Seq("id"))
      .agg(sum(col("v")))
    q.collect()
    val plan = q.queryExecution.executedPlan
    val text = plan.toString
    assert(!text.contains("SortAggregate"), text)
    assert(text.contains("Window ["), text)
    val scans = collect(plan) { case b: BatchScanExec => b }
    assert(scans.map(_.output.map(_.name).toSet) == Seq(Set("id", "v", "__op", "__pos")), text)
  }

  test("latestImage fails loud on an input without __pos") {
    val e = intercept[IllegalArgumentException] {
      Cdc.latestImage(spark.range(3).toDF("id").withColumn("__op", lit(1)), Seq("id"))
    }
    assert(e.getMessage.contains("binlogcdc"), e.getMessage)
  }

  test("a compressed transaction with more images than bytes fails loud only when __pos is read") {
    // 2000 identical inserts compress to far fewer bytes than images
    val txns = Seq(Seq.fill(2000)((1L, Insert, 1.0)))
    val df = ChangeLogs.read(spark, "mysql-zstd", ChangeLogs.write("mysql-zstd", txns))
    assert(df.count() == 2000)
    val e = intercept[Exception](ChangeLogs.latest(df))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("__pos cannot order them")), e)
  }

  test("__pos over 32 bits fails loud when read") {
    val sink = graft.cdc.RowSink.unsafeRows(Array(0), Array(-1, -1, -1, -1, -1, 1), 2,
      graft.cdc.EnvelopePred.All, 0L, Long.MaxValue, fileOrdinal = 3)
    assert(sink.begin(Insert, 1L, 0L, null, null, 1, 0xffffffffL))
    sink.end()
    val row = new org.apache.spark.sql.catalyst.expressions.UnsafeRow(2)
    sink.pointTo(row, 0)
    assert(row.getLong(1) == (3L << 32 | 0xffffffffL))
    val e = intercept[java.io.IOException](
      sink.begin(Insert, 1L, 0L, null, null, 1, 1L << 32))
    assert(e.getMessage.contains("4 GiB"), e.getMessage)
  }

  test("__pos: a stream reads the same positions as the batch scan") {
    val index = ChangeLogs.write("mysql", Seq(
      Seq((1L, Insert, 1.0), (2L, Insert, 2.0)),
      Seq((1L, UpdateAfter, 3.0), (2L, Delete, 0.0))))
    def withPos(df: DataFrame): DataFrame =
      df.select(col("id"), col(CdcSchema.OpCol), df.metadataColumn(CdcSchema.PosCol))
    def rows(df: DataFrame): Seq[(Long, Int, Long)] =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq.sorted
    val batch = rows(withPos(ChangeLogs.read(spark, "mysql", index)))
    assert(batch.map(_._3).distinct.length == batch.length)
    val stream = spark.readStream.format("binlogcdc").option("indexFile", index)
      .option("database", "db").option("table", "t").option("binlogFormat", "mysql")
      .load()
    val dir = Files.createTempDirectory("cdc-stream-pos").toString
    val q = withPos(stream).writeStream.format("memory").queryName("stream_pos")
      .option("checkpointLocation", dir).start()
    try q.processAllAvailable() finally q.stop()
    assert(rows(spark.table("stream_pos")) == batch)
    graft.TmpDirs.deleteRecursively(new java.io.File(dir))
  }

  test("streaming latest image folds in log order: same-transaction update→delete and insert→delete") {
    // the orders shape latestImageStream reads; gtid 2 updates then
    // deletes key 1, inserts then deletes key 5, updates key 2 twice
    val schema = StructType(Seq(StructField("o_orderkey", LongType),
      StructField("o_custkey", LongType), StructField("o_totalprice", DoubleType)))
    val dir = Files.createTempDirectory("cdc-stream-latest").toString
    val w = new MysqlBinlog.Writer(s"$dir/mysql-bin.000001")
    def row(k: Long, price: Double): Array[Any] = Array[Any](k, 10L * k, price)
    w.gtid(1000L, 1L, "3e11fa47-71ca-11e1-9e33-c80aa9429562")
    w.tableMap(1000L, 7L, "db", "orders", schema)
    w.writeRows(1000L, 7L, schema, Seq(row(1, 1.0), row(2, 1.0), row(3, 1.0)))
    w.xid(1000L, 1L)
    w.gtid(2000L, 2L, "3e11fa47-71ca-11e1-9e33-c80aa9429562")
    w.tableMap(2000L, 7L, "db", "orders", schema)
    w.updateRows(2000L, 7L, schema, Seq((row(1, 1.0), row(1, 2.0))))
    w.writeRows(2000L, 7L, schema, Seq(row(5, 5.0)))
    w.updateRows(2000L, 7L, schema, Seq((row(2, 1.0), row(2, 2.0))))
    w.deleteRows(2000L, 7L, schema, Seq(row(1, 2.0), row(5, 5.0)))
    w.updateRows(2000L, 7L, schema, Seq((row(2, 2.0), row(2, 3.0))))
    w.xid(2000L, 2L)
    w.close()
    Files.writeString(Paths.get(dir, "binlog.index"), "mysql-bin.000001\n")
    val opts = Map("indexFile" -> s"$dir/binlog.index", "database" -> "db",
      "table" -> "orders", "binlogFormat" -> "mysql")
    val want = Cdc.latestImage(spark.read.format("binlogcdc").options(opts).load(),
        Seq("o_orderkey"))
      .select("o_orderkey", "o_totalprice").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(want == Map(2L -> 3.0, 3L -> 1.0))
    val q = graft.streaming.StreamOps.latestImageStream(
        spark.readStream.format("binlogcdc").options(opts).load())
      .writeStream.format("memory").queryName("latest_image_log_order")
      .outputMode("update").option("checkpointLocation", s"$dir/ckpt").start()
    val got = try {
      q.processAllAvailable()
      // update-mode rows in batch order: the last one per key is its state
      spark.table("latest_image_log_order").collect()
        .foldLeft(Map.empty[Long, (Boolean, Double)]) { (m, r) =>
          m.updated(r.getAs[Long]("o_orderkey"),
            (r.getAs[Boolean]("deleted"), r.getAs[Double]("o_totalprice")))
        }.collect { case (k, (false, price)) => k -> price }
    } finally q.stop()
    assert(got == want)
    graft.TmpDirs.deleteRecursively(new java.io.File(dir))
  }
}
