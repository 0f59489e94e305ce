package graft

import java.nio.file.{Files, Paths}

import graft.cdc.{CdcCodec, LogFs, MysqlBinlog}
import org.apache.spark.sql.types._

/** Scheme-qualified log roots end-to-end (the LogFs seam): every binlog
  * READ routes through the Hadoop FileSystem API, so a `file://` (and
  * therefore `hdfs://`) index root serves the full surface — batch
  * scan, schema inference, streaming growth pickup, multi-table
  * fan-out, both wire formats — byte-identically to the bare local
  * path. The reference reads server-local files from inside mysqld
  * (binlog_table_reader.cc:75-96); a cluster engine must read the log
  * from a shared store instead, and `LocalFileSystem` under `file://`
  * exercises exactly the code path an `hdfs://` root takes.
  */
class CdcLogFsSpec extends SparkTestBase {

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("v", DoubleType)))

  private def r(id: Long, v: Double): Array[Any] = Array[Any](id, v)

  /** Two-file GCDC log with RELATIVE index entries (the mysqld
    * convention), returning the bare index path. */
  private def writeGcdc(): String = {
    val dir = Files.createTempDirectory("cdc-logfs-gcdc").toString
    val w0 = new CdcCodec.LogWriter(s"$dir/b.0")
    w0.tableMap(0L, 1L, "db", "t", schema)
    w0.gtid(1000L, 1L); w0.writeRows(1000L, 1L, schema, Seq(r(1, 1.0), r(2, 2.0)))
    w0.close()
    val w1 = new CdcCodec.LogWriter(s"$dir/b.1")
    w1.tableMap(0L, 1L, "db", "t", schema)
    w1.gtid(2000L, 2L); w1.writeRows(2000L, 1L, schema, Seq(r(3, 3.0)))
    w1.gtid(3000L, 3L); w1.updateRows(3000L, 1L, schema, Seq((r(2, 2.0), r(2, 22.0))))
    w1.close()
    Files.writeString(Paths.get(dir, "binlog.index"), "b.0\nb.1\n")
    s"$dir/binlog.index"
  }

  private def read(index: String, fmt: String = "gcdc") =
    spark.read.format("binlogcdc")
      .option("indexFile", index).option("database", "db").option("table", "t")
      .option("binlogFormat", fmt).load()

  test("resolveSibling: relative entries inherit the index's scheme, qualified entries pass through") {
    assert(LogFs.resolveSibling("/logs/binlog.index", "b.0") == "/logs/b.0")
    assert(LogFs.resolveSibling("file:///logs/binlog.index", "b.0")
      == "file:/logs/b.0")
    assert(LogFs.resolveSibling("hdfs://nn:9000/logs/binlog.index", "b.0")
      == "hdfs://nn:9000/logs/b.0")
    assert(LogFs.resolveSibling("/logs/binlog.index", "file:///x/b.0")
      == "file:///x/b.0")
  }

  test("gcdc batch scan through file:// equals the bare-path scan, rows and schema") {
    val index = writeGcdc()
    val bare = read(index).collect().map(_.toString).sorted.toSeq
    val uri = read(s"file://$index").collect().map(_.toString).sorted.toSeq
    assert(bare.nonEmpty && bare == uri,
      s"file:// scan diverged: bare=${bare.length} uri=${uri.length}")
    assert(read(s"file://$index").schema == read(index).schema)
  }

  test("mysql-format batch scan through file:// equals the bare-path scan") {
    val dir = Files.createTempDirectory("cdc-logfs-mysql").toString
    val w = new MysqlBinlog.Writer(s"$dir/my.000001")
    w.tableMap(1000L, 1L, "db", "t", schema)
    w.gtid(1000L, 1L, "11111111-2222-3333-4444-555555555555")
    w.writeRows(1000L, 1L, schema, Seq(r(1, 1.0), r(2, 2.0)))
    w.close()
    Files.writeString(Paths.get(dir, "binlog.index"), "my.000001\n")
    val index = s"$dir/binlog.index"
    val bare = read(index, "mysql").collect().map(_.toString).sorted.toSeq
    val uri = read(s"file://$index", "mysql").collect().map(_.toString).sorted.toSeq
    assert(bare.nonEmpty && bare == uri)
  }

  test("streaming through file:// picks up log growth (offsets + lengths route through LogFs)") {
    val dir = Files.createTempDirectory("cdc-logfs-stream").toString
    val w0 = new CdcCodec.LogWriter(s"$dir/b.0")
    w0.tableMap(0L, 1L, "db", "t", schema)
    w0.gtid(1000L, 1L); w0.writeRows(1000L, 1L, schema, Seq(r(1, 1.0), r(2, 2.0)))
    w0.close()
    Files.writeString(Paths.get(dir, "binlog.index"), "b.0\n")
    val outDir = Files.createTempDirectory("cdc-logfs-out").toString
    val ckpt = Files.createTempDirectory("cdc-logfs-ckpt").toString
    val q = spark.readStream.format("binlogcdc")
      .option("indexFile", s"file://$dir/binlog.index")
      .option("database", "db").option("table", "t")
      .load()
      .writeStream.format("parquet")
      .option("path", outDir).option("checkpointLocation", ckpt)
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.read.parquet(outDir).count() == 2)
      val w1 = new CdcCodec.LogWriter(s"$dir/b.1")
      w1.tableMap(0L, 1L, "db", "t", schema)
      w1.gtid(2000L, 2L); w1.writeRows(2000L, 1L, schema, Seq(r(3, 3.0)))
      w1.close()
      Files.writeString(Paths.get(dir, "binlog.index"), "b.0\nb.1\n")
      q.processAllAvailable()
      assert(spark.read.parquet(outDir).count() == 3,
        "rotation growth under a file:// root must stream through")
    } finally q.stop()
  }

  test("SQL catalog through file://: SHOW TABLES and a pushdown read work against a scheme-qualified index") {
    val index = graft.cdc.CdcFixture.ensure(spark, "/root/testdata/sf0.001")
    spark.conf.set("spark.sql.catalog.cdcuri",
      "graft.sources.CdcTableCatalog")
    spark.conf.set("spark.sql.catalog.cdcuri.indexFile", s"file://$index")
    try {
      val tables = spark.sql("SHOW TABLES IN cdcuri.graft")
        .collect().map(_.getString(1)).toSet
      assert(tables.contains("orders"), s"catalog listing missing orders: $tables")
      val n = spark.sql(
        "SELECT COUNT(*) FROM cdcuri.graft.orders WHERE __op = 1").head().getLong(0)
      val bare = spark.read.format("binlogcdc")
        .option("indexFile", index)
        .option("database", "graft").option("table", "orders").load()
        .filter(org.apache.spark.sql.functions.col("__op") === 1).count()
      assert(n == bare && n > 0, s"catalog file:// count $n != bare $bare")
    } finally {
      spark.conf.unset("spark.sql.catalog.cdcuri.indexFile")
      spark.conf.unset("spark.sql.catalog.cdcuri")
    }
  }

  test("object-store-semantics root (s3x://): unordered listing + refused rename serve the scan byte-identically") {
    val index = writeGcdc()
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.s3x.impl", classOf[ObjectStoreLikeFs].getName)
    // earlier suites may already have resolved (and cached) a conf
    // without the s3x scheme — re-resolve, then verify the adversarial
    // properties are really live before trusting the equality below
    LogFs.resetForTests()
    val fs = new org.apache.hadoop.fs.Path(s"s3x://$index")
      .getFileSystem(hc)
    assert(fs.isInstanceOf[ObjectStoreLikeFs], s"s3x resolved to $fs")
    val ex = intercept[java.io.IOException] {
      fs.rename(new org.apache.hadoop.fs.Path(s"s3x://$index"),
        new org.apache.hadoop.fs.Path(s"s3x://$index.moved"))
    }
    assert(ex.getMessage.contains("object-store semantics"))
    val dir = new org.apache.hadoop.fs.Path(s"s3x://$index").getParent
    val listed = fs.listStatus(dir).map(_.getPath.getName).toSeq
    assert(listed.toSet.contains("b.0") && listed != listed.sorted,
      s"listing should be deterministically unordered, got $listed")
    // the read seam end-to-end over the adversarial FS: index parse,
    // sibling resolution, sidecar metadata, per-file event readers —
    // byte-identical to the bare-path scan, no rename, no listing-order
    // dependence
    val bare = read(index).collect().map(_.toString).sorted.toSeq
    val adv = read(s"s3x://$index").collect().map(_.toString).sorted.toSeq
    assert(bare.nonEmpty && bare == adv,
      s"s3x:// scan diverged: bare=${bare.length} adv=${adv.length}")
    assert(read(s"s3x://$index").schema == read(index).schema)
  }

  test("fan-out through an object-store-semantics log root (outputs stay on a rename-capable store)") {
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.s3x.impl", classOf[ObjectStoreLikeFs].getName)
    hc.set("fs.nrx.impl", classOf[RenameFreeFs].getName)
    LogFs.resetForTests()
    val index = writeGcdc()
    // the replica commits through IndexLog, so its root needs no rename
    // either: a store that refuses every rename outside _temporary/
    val root = Files.createTempDirectory("cdc-s3x-fanout").toString
    val out = graft.sources.CdcFanout.materializeTables(spark,
      s"s3x://$index", Seq(("db", "t")), s"nrx://$root")
    val mat = out(("db", "t"))
      .collect().map(_.toString).sorted.toSeq
    val scan = read(index).collect().map(_.toString).sorted.toSeq
    assert(scan.nonEmpty && mat == scan,
      s"fan-out under s3x:// diverged (scan=${scan.length}, mat=${mat.length})")
    graft.TmpDirs.deleteRecursively(new java.io.File(root))
  }

  test("fan-out through file:// materializes frames equal to the scans") {
    val index = graft.cdc.CdcFixture.ensure(spark, "/root/testdata/sf0.001")
    val root = Files.createTempDirectory("cdc-logfs-fanout").toString
    val out = graft.sources.CdcFanout.materializeTables(spark,
      s"file://$index", Seq(("graft", "orders")), root)
    val mat = out(("graft", "orders"))
      .collect().map(_.toString).sorted.toSeq
    val scan = spark.read.format("binlogcdc")
      .option("indexFile", index)
      .option("database", "graft").option("table", "orders").load()
      .collect().map(_.toString).sorted.toSeq
    assert(scan.nonEmpty && mat == scan,
      s"fan-out under file:// diverged (scan=${scan.length}, mat=${mat.length})")
    graft.TmpDirs.deleteRecursively(new java.io.File(root))
  }
}
