package graft

import java.nio.file.{Files, Paths}

import graft.cdc.{CdcCodec, MysqlBinlog}
import graft.sources.CdcTableCatalog
import org.apache.spark.sql.types._

/** The DSv2 `TableCatalog` over a CDC log: namespaces/tables list from
  * the log's own TABLE_MAPs, any table loads with its inferred schema,
  * SQL reads push envelope filters into the byte decoder, and every
  * mutating DDL fails loud (the log belongs to its producer). */
class CdcCatalogSpec extends SparkTestBase {

  private val Sid = "11111111-2222-3333-4444-555555555555"

  private val tSchema = StructType(Seq(
    StructField("id", LongType), StructField("v", DoubleType)))
  private val uSchema = StructType(Seq(
    StructField("k", LongType), StructField("s", StringType)))

  /** Two databases, three tables, two files (older file's extra table
    * proves listing reads the NEWEST file only). */
  private def writeGcdcLog(): String = {
    val dir = Files.createTempDirectory("cdc-catalog").toString
    val w0 = new CdcCodec.LogWriter(s"$dir/b.0")
    w0.tableMap(0L, 1L, "db", "t", tSchema)
    w0.tableMap(0L, 9L, "old", "gone", tSchema)
    w0.gtid(1000L, 1L)
    w0.writeRows(1000L, 1L, tSchema, Seq(Array[Any](1L, 1.0), Array[Any](2L, 2.0)))
    w0.writeRows(1000L, 9L, tSchema, Seq(Array[Any](7L, 7.0)))
    w0.close()
    val w1 = new CdcCodec.LogWriter(s"$dir/b.1")
    w1.tableMap(0L, 1L, "db", "t", tSchema)
    w1.tableMap(0L, 2L, "db", "u", uSchema)
    w1.tableMap(0L, 3L, "other", "t2", tSchema)
    w1.gtid(2000L, 2L)
    w1.writeRows(2000L, 1L, tSchema, Seq(Array[Any](3L, 3.0)))
    w1.writeRows(2000L, 2L, uSchema, Seq(Array[Any](10L, "x")))
    w1.writeRows(2000L, 3L, tSchema, Seq(Array[Any](20L, 20.0)))
    w1.close()
    Files.writeString(Paths.get(dir, "binlog.index"), "b.0\nb.1\n")
    s"$dir/binlog.index"
  }

  private var n = 0
  private def register(index: String, extra: (String, String)*): String = {
    n += 1
    val cat = s"cdccat$n"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[CdcTableCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.indexFile", index)
    extra.foreach { case (k, v) =>
      spark.conf.set(s"spark.sql.catalog.$cat.$k", v) }
    cat
  }

  test("SHOW NAMESPACES / SHOW TABLES list the log's own TABLE_MAPs") {
    val cat = register(writeGcdcLog())
    // GCDC files carry v2 sidecars -> the union branch: every table
    // any file ever recorded rows for lists, including the older
    // file's 'old' db (the newest-file bound is the sidecar-less
    // fallback, tested separately below, and the mysql format)
    val ns = spark.sql(s"SHOW NAMESPACES IN $cat")
      .collect().map(_.getString(0)).sorted.toSeq
    assert(ns == Seq("db", "old", "other"))
    val tables = spark.sql(s"SHOW TABLES IN $cat.db")
      .collect().map(_.getString(1)).sorted.toSeq
    assert(tables == Seq("t", "u"))
  }

  test("sidecar-less fallback: EVERY mapping file lists; empty rotated tail is walked past") {
    val index = writeGcdcLog()
    val dir = Paths.get(index).getParent
    // strip the sidecars -> the TABLE_MAP-scan fallback branch
    dir.toFile.listFiles.filter(_.getName.endsWith(".meta"))
      .foreach(f => Files.delete(f.toPath))
    // mysqld-style rotation: the newest file exists but has no events
    // yet — listing walks past it; ALL older sidecar-less files scan
    // (a producer crash before close / pre-v2 caches leave several,
    // and a table unique to an older one — 'old' here, mapped only in
    // b.0 — must not silently vanish from SHOW TABLES)
    new CdcCodec.LogWriter(s"$dir/b.2").close()
    Files.writeString(Paths.get(dir.toString, "binlog.index"), "b.0\nb.1\nb.2\n")
    val cat = register(index)
    val ns = spark.sql(s"SHOW NAMESPACES IN $cat")
      .collect().map(_.getString(0)).sorted.toSeq
    assert(ns == Seq("db", "old", "other"),
      "all mapping files (b.0 + b.1) name the set")
    val tables = spark.sql(s"SHOW TABLES IN $cat.db")
      .collect().map(_.getString(1)).sorted.toSeq
    assert(tables == Seq("t", "u"))
  }

  test("MINIMAL-metadata mysql log: schema.<db>.<table> catalog option loads it") {
    val dir = Files.createTempDirectory("cdc-catalog-min").toString
    val w = new MysqlBinlog.Writer(s"$dir/mysql-bin.000001", checksum = true,
      fullMetadata = false)
    w.gtid(1000L, 1L, Sid)
    w.query(1000L, "db", "BEGIN")
    w.tableMap(1000L, 1L, "db", "t", tSchema)
    w.writeRows(1000L, 1L, tSchema, Seq(Array[Any](5L, 5.0)))
    w.xid(1000L, 1L)
    w.close()
    Files.writeString(Paths.get(dir, "binlog.index"), "mysql-bin.000001\n")
    // without the option: fail loud with catalog-path advice (the
    // spark.read.schema(...) hint would be unusable in pure SQL)
    val bare = register(s"$dir/binlog.index", "binlogFormat" -> "mysql")
    val e = intercept[Exception] { spark.sql(s"SELECT * FROM $bare.db.t").collect() }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).mkString(" | ").contains("schema.db.t"), e.getMessage)
    // with it: positional type matching, full read
    val cat = register(s"$dir/binlog.index", "binlogFormat" -> "mysql",
      "schema.db.t" -> "id BIGINT, v DOUBLE")
    val rows = spark.sql(s"SELECT id, v, __gtid FROM $cat.db.t")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq
    assert(rows == Seq((5L, 5.0, 1L)))
  }

  test("pure-SQL reads resolve any listed table with its inferred schema") {
    val cat = register(writeGcdcLog())
    val t = spark.sql(s"SELECT id, v, __op, __gtid FROM $cat.db.t ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getInt(2), r.getLong(3)))
    assert(t.toSeq == Seq((1L, 1.0, 1, 1L), (2L, 2.0, 1, 1L), (3L, 3.0, 1, 2L)))
    val u = spark.sql(s"SELECT k, s FROM $cat.db.u").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(u.toSeq == Seq((10L, "x")))
    // a table only the OLDER file maps still loads (inference walks
    // newest-first until found) even though listing doesn't show it
    val gone = spark.sql(s"SELECT id FROM $cat.old.gone").collect()
    assert(gone.map(_.getLong(0)).toSeq == Seq(7L))
  }

  test("envelope filter pushdown reaches the decoder through the catalog path") {
    val cat = register(writeGcdcLog())
    val df = spark.sql(s"SELECT id FROM $cat.db.t WHERE __gtid = 2")
    assert(df.collect().map(_.getLong(0)).toSeq == Seq(3L))
    val scanDesc = df.queryExecution.executedPlan.toString
    assert(scanDesc.contains("binlogcdc"), scanDesc)
  }

  test("unknown table or namespace fails as NOT_FOUND, read-only DDL fails loud") {
    val cat = register(writeGcdcLog())
    val e1 = intercept[Exception] { spark.sql(s"SELECT * FROM $cat.db.nope").collect() }
    assert(e1.getMessage.contains("nope"), e1.getMessage)
    val e2 = intercept[Exception] { spark.sql(s"SHOW TABLES IN $cat.missing").collect() }
    assert(e2.getMessage.toLowerCase.contains("missing"), e2.getMessage)
    val e3 = intercept[Exception] {
      spark.sql(s"CREATE TABLE $cat.db.x (a INT)").collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e3).mkString(" | ").contains("read-only"), e3.getMessage)
    val e4 = intercept[Exception] { spark.sql(s"DROP TABLE $cat.db.t").collect() }
    assert(msgs(e4).mkString(" | ").contains("read-only"), e4.getMessage)
  }

  test("SQL time travel: VERSION AS OF / TIMESTAMP AS OF prefix the log and prune files") {
    val cat = register(writeGcdcLog())
    // gtid 2 (file b.1) is past the requested version: its rows drop
    val v = spark.sql(s"SELECT id FROM $cat.db.t VERSION AS OF 1")
    assert(v.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
    // ... and the sidecar gtid bounds prune file b.1 from the PLAN
    assert(v.rdd.getNumPartitions == 1,
      "time travel must ride file pruning, not just row filtering")
    val t = spark.sql(
      s"SELECT id FROM $cat.db.t TIMESTAMP AS OF '1970-01-01 00:00:01.5'")
    assert(t.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
    val e = intercept[Exception] {
      spark.sql(s"SELECT * FROM $cat.db.t VERSION AS OF 'abc'").collect()
    }
    assert(e.getMessage.contains("gno"), e.getMessage)
  }

  test("streaming reads a catalog table: readStream.table(cdc.db.t)") {
    // catalog-loaded tables carry indexFile/database/table as table
    // properties; the micro-batch path must resolve them the same way
    // the batch path does
    val cat = register(writeGcdcLog())
    val ckpt = Files.createTempDirectory("cdc-cat-ckpt").toString
    val outDir = Files.createTempDirectory("cdc-cat-out").toString
    val q = spark.readStream.table(s"$cat.db.t")
      .select("id", "v", "__gtid")
      .writeStream.format("parquet")
      .option("path", outDir).option("checkpointLocation", ckpt)
      .outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    val ids = spark.read.parquet(outDir).collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == Seq(1L, 2L, 3L))
  }

  test("catalog option rowsQuery=true flows into loaded tables (__query in SQL)") {
    val dir = Files.createTempDirectory("cdc-catalog-rq").toString
    val w = new MysqlBinlog.Writer(s"$dir/mysql-bin.000001", checksum = true)
    w.gtid(1000L, 1L, Sid)
    w.query(1000L, "db", "BEGIN")
    w.rowsQuery(1000L, "INSERT INTO t VALUES (9, 9.0)")
    w.tableMap(1000L, 1L, "db", "t", tSchema)
    w.writeRows(1000L, 1L, tSchema, Seq(Array[Any](9L, 9.0)))
    w.xid(1000L, 1L)
    w.close()
    Files.writeString(Paths.get(dir, "binlog.index"), "mysql-bin.000001\n")
    val cat = register(s"$dir/binlog.index",
      "binlogFormat" -> "mysql", "rowsQuery" -> "true")
    val rows = spark.sql(s"SELECT id, __query FROM $cat.db.t")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(rows == Seq((9L, "INSERT INTO t VALUES (9, 9.0)")))
  }

  test("catalog resolves binlogFormat and rowsQuery the way the provider does") {
    // rowsQuery=true needs a statement-text wire event, which gcdc lacks:
    // the catalog must refuse at initialize, as the provider refuses at
    // planning — not load a table with a __query column that only fails
    // at the first scan
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    val index = writeGcdcLog()
    val rq = register(index, "rowsQuery" -> "true")
    val e1 = intercept[Exception] { spark.sql(s"SHOW NAMESPACES IN $rq").collect() }
    assert(msgs(e1).mkString(" | ").contains("rowsQuery=true requires"), e1.getMessage)
    val bad = register(index, "binlogFormat" -> "nope")
    val e2 = intercept[Exception] { spark.sql(s"SHOW NAMESPACES IN $bad").collect() }
    assert(msgs(e2).mkString(" | ").contains("unknown binlogFormat 'nope'"), e2.getMessage)
    // the explicit default reads like the implicit one
    val cat = register(index, "binlogFormat" -> "gcdc", "rowsQuery" -> "false")
    val t = spark.sql(s"SELECT * FROM $cat.db.t")
    assert(!t.columns.contains("__query"))
    assert(t.count() == 3)
  }

  test("catalog binlogFormat=mariadb: zero-config SQL over a fork log") {
    // listTables / schema inference / load all ride the adapter seam,
    // so a MariaDB log is a plain SQL table too — identity triple in
    // __source_id included
    val dir = Files.createTempDirectory("cdc-catalog-maria").toString
    val w = new MysqlBinlog.Writer(s"$dir/maria-bin.000001", checksum = true,
      maria = true)
    w.gtidList(Nil)
    w.currentServerId = 7L
    w.gtidMaria(1000L, 1L, domain = 3L)
    w.tableMap(1000L, 1L, "db", "t", tSchema)
    w.writeRows(1000L, 1L, tSchema, Seq(Array[Any](9L, 9.0)))
    w.xid(1000L, 1L)
    w.close()
    Files.writeString(Paths.get(dir, "binlog.index"), "maria-bin.000001\n")
    val cat = register(s"$dir/binlog.index", "binlogFormat" -> "mariadb")
    assert(spark.sql(s"SHOW TABLES IN $cat.db").collect()
      .map(_.getString(1)).contains("t"))
    val rows = spark.sql(s"SELECT id, __gtid, __source_id FROM $cat.db.t")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    assert(rows == Seq((9L, 1L, "3-7")), rows.toString)
  }

  test("catalog option schemaDrift=epochs: SQL reads span an ALTER boundary") {
    // a mysql log whose table drifts mid-file (permuting ALTER, fresh
    // table id) — the catalog infers the NEWEST schema and the option
    // flows into the load, so plain SQL reads both epochs (old rows
    // remap by name, v-less epoch reads null)
    val dir = Files.createTempDirectory("cdc-catalog-drift").toString
    val s1 = StructType(Seq(StructField("id", LongType), StructField("v", DoubleType)))
    val s2 = StructType(Seq(StructField("v", DoubleType),
      StructField("id", LongType), StructField("x", IntegerType)))
    val w = new MysqlBinlog.Writer(s"$dir/mysql-bin.000001", checksum = true)
    w.tableMap(0L, 1L, "db", "t", s1)
    w.gtid(0L, 1L, Sid)
    w.writeRows(0L, 1L, s1, Seq(Array[Any](7L, 1.5)))
    w.tableMap(1000L, 2L, "db", "t", s2)
    w.gtid(1000L, 2L, Sid)
    w.writeRows(1000L, 2L, s2, Seq(Array[Any](2.5, 8L, 42)))
    w.close()
    Files.writeString(Paths.get(dir, "binlog.index"), "mysql-bin.000001\n")
    val cat = register(s"$dir/binlog.index",
      "binlogFormat" -> "mysql", "schemaDrift" -> "epochs")
    val rows = spark.sql(s"SELECT v, id, x, __gtid FROM $cat.db.t ORDER BY __gtid")
      .collect().map(r => (r.getDouble(0), r.getLong(1),
        if (r.isNullAt(2)) null else r.getInt(2), r.getLong(3))).toSeq
    assert(rows == Seq((1.5, 7L, null, 1L), (2.5, 8L, 42, 2L)), rows.toString)
  }

  test("mysql-format catalog: zstd-compressed logs list payload-inner TABLE_MAPs") {
    val dir = Files.createTempDirectory("cdc-catalog-my").toString
    def story(path: String, compress: Boolean): Unit = {
      val w = new MysqlBinlog.Writer(path, checksum = true, compressTxns = compress)
      w.gtid(1000L, 1L, Sid)
      w.query(1000L, "db", "BEGIN")
      w.tableMap(1000L, 1L, "db", "t", tSchema)
      w.writeRows(1000L, 1L, tSchema, Seq(Array[Any](1L, 1.0)))
      w.xid(1000L, 1L)
      w.close()
    }
    story(s"$dir/mysql-bin.000001", compress = false)
    story(s"$dir/mysql-bin.000002", compress = true)
    Files.writeString(Paths.get(dir, "binlog.index"),
      "mysql-bin.000001\nmysql-bin.000002\n")
    val cat = register(s"$dir/binlog.index", "binlogFormat" -> "mysql")
    // newest file is fully compressed: listing must unwrap its payloads
    val tables = spark.sql(s"SHOW TABLES IN $cat.db")
      .collect().map(_.getString(1)).toSeq
    assert(tables == Seq("t"))
    val rows = spark.sql(s"SELECT id, __gtid FROM $cat.db.t")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(rows == Seq((1L, 1L), (1L, 1L)), "both files' txns decode")
  }
}
