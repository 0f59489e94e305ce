package graft

import java.nio.file.{Files, Paths}

import graft.cdc.{CdcCodec, CdcSchema, MariaDbAdapter, MysqlBinlog, MysqlBinlogAdapter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The pure-JVM MySQL binlog v4 decoder: hand-built fixtures decoded
  * through the [[MysqlBinlogAdapter]] seam, plus end-to-end equivalence
  * with the GCDC format through the DSv2 source (the cdc21-cdc23 oracle
  * queries cover the same path at sf0.01 against DuckDB).
  */
class MysqlBinlogSpec extends SparkTestBase {

  private val Sid = "11111111-2222-3333-4444-555555555555"

  private def tmpDir(): String =
    Files.createTempDirectory("mysql-binlog-spec").toString

  /** All supported column types in one row. */
  private val wideSchema = StructType(Seq(
    StructField("c_long", LongType), StructField("c_int", IntegerType),
    StructField("c_short", ShortType), StructField("c_byte", ByteType),
    StructField("c_float", FloatType), StructField("c_double", DoubleType),
    StructField("c_str", StringType), StructField("c_bin", BinaryType),
    StructField("c_date", DateType), StructField("c_ts", TimestampType),
    StructField("c_ntz", TimestampNTZType),
    StructField("c_dec", DecimalType(12, 2))))

  private def wideRow(i: Long): Array[Any] = Array[Any](
    i, (i + 1).toInt, (i + 2).toShort, (i % 100).toByte,
    1.5f + i, 2.25 + i, s"s$i", Array[Byte](i.toByte, (i + 1).toByte),
    19000 + i.toInt /* epoch days */,
    1704067200000000L + i * 1000000L /* micros */,
    1704067200000000L + i * 1000000L + 123456L,
    java.math.BigDecimal.valueOf(i * 100 + 25, 2))

  private def decodeAll(path: String, db: String, table: String,
      needed: Int => Boolean = _ => true,
      expected: Option[StructType] = None): Seq[CdcCodec.CdcRow] = {
    val r = MysqlBinlogAdapter.open(path)
    val dec = MysqlBinlogAdapter.decoder(db, table, needed, expected)
    try {
      val out = Seq.newBuilder[CdcCodec.CdcRow]
      while (r.hasNext) out ++= dec.decode(r.next())
      out.result()
    } finally r.close()
  }

  test("encrypted binlog (magic 0xFD62696E) fails loud naming binlog_encryption") {
    val dir = tmpDir()
    val path = s"$dir/mysql-bin.000001"
    Files.write(Paths.get(path), Array[Byte](0xfd.toByte, 'b', 'i', 'n') ++
      new Array[Byte](64)) // encryption header bytes: opaque ciphertext
    val ex = intercept[MysqlBinlog.UnreadableLogException] {
      val r = MysqlBinlogAdapter.open(path)
      try { while (r.hasNext) r.next() } finally r.close()
    }
    assert(ex.getMessage.contains("binlog_encryption"), ex.getMessage)
    // a genuinely foreign file still reads as plain bad magic
    val other = s"$dir/not-a-binlog"
    Files.write(Paths.get(other), "PAR1garbage".getBytes)
    val ex2 = intercept[IllegalArgumentException] {
      MysqlBinlogAdapter.open(other)
    }
    assert(ex2.getMessage.contains("bad magic"), ex2.getMessage)
  }

  test("a binlog cut inside its magic reads as truncated, not foreign") {
    // a producer rewriting the file can leave it this short between
    // lastCompleteOffset's length check and its open: the open must
    // fail as EOF (a torn log, offset stays at the header) rather than
    // as a foreign file, for both flavours
    val path = s"${tmpDir()}/mysql-bin.000001"
    Files.write(Paths.get(path), Array[Byte](0xfe.toByte, 'b'))
    for (maria <- Seq(false, true)) {
      intercept[java.io.EOFException](new MysqlBinlog.EventReader(path, maria))
      assert(MysqlBinlog.lastCompleteOffset(path, maria) ==
        MysqlBinlog.MagicLen.toLong)
    }
  }

  test("MariaDB binlog fails loud naming the GTID-layer difference") {
    val dir = tmpDir()
    val path = s"$dir/mysql-bin.000001"
    val w = new MysqlBinlog.Writer(path)
    w.tableMap(0L, 1L, "db", "t",
      StructType(Seq(StructField("id", LongType))))
    w.close()
    // patch the FDE's 50-byte server_version field (magic 4 + header 19
    // + binlog_version 2 = offset 25) to a MariaDB version string
    val bytes = Files.readAllBytes(Paths.get(path))
    java.util.Arrays.fill(bytes, 25, 75, 0.toByte)
    val ver = "10.11.2-MariaDB-log".getBytes("US-ASCII")
    System.arraycopy(ver, 0, bytes, 25, ver.length)
    Files.write(Paths.get(path), bytes)
    val ex = intercept[Exception] {
      val r = MysqlBinlogAdapter.open(path)
      try { while (r.hasNext) r.next() } finally r.close()
    }
    assert(ex.getMessage.contains("MariaDB"), ex.getMessage)
    assert(ex.getMessage.contains("binlogFormat=mariadb"),
      s"the refusal must name the option that fixes it: ${ex.getMessage}")
    // ...and the mirror: a MariaDB adapter refuses a MySQL-flavor log,
    // naming binlogFormat=mysql (flavor mismatch never mis-decodes)
    val path2 = s"$dir/mysql-bin.000002"
    val w2 = new MysqlBinlog.Writer(path2)
    w2.tableMap(0L, 1L, "db", "t",
      StructType(Seq(StructField("id", LongType))))
    w2.close()
    val ex2 = intercept[Exception] {
      val r = MariaDbAdapter.open(path2)
      try { while (r.hasNext) r.next() } finally r.close()
    }
    assert(ex2.getMessage.contains("binlogFormat=mysql"), ex2.getMessage)
  }

  test("MariaDB/encrypted diagnoses surface through the streaming frontier poll") {
    // lastCompleteOffset degrades a TORN TAIL to the last whole event —
    // but a whole-file diagnosis must rethrow, or the stream would plan
    // zero partitions forever instead of failing loud
    val dir = tmpDir()
    val path = s"$dir/mysql-bin.000001"
    val w = new MysqlBinlog.Writer(path)
    w.tableMap(0L, 1L, "db", "t",
      StructType(Seq(StructField("id", LongType))))
    w.close()
    val bytes = Files.readAllBytes(Paths.get(path))
    java.util.Arrays.fill(bytes, 25, 75, 0.toByte)
    val ver = "10.11.2-MariaDB-log".getBytes("US-ASCII")
    System.arraycopy(ver, 0, bytes, 25, ver.length)
    Files.write(Paths.get(path), bytes)
    val ex = intercept[Exception] { MysqlBinlog.lastCompleteOffset(path) }
    assert(ex.getMessage.contains("MariaDB"), ex.getMessage)
    // ...while a torn tail still degrades gracefully (truncate the last
    // event of a healthy log mid-body)
    val path2 = s"$dir/mysql-bin.000002"
    val w2 = new MysqlBinlog.Writer(path2)
    w2.tableMap(0L, 1L, "db", "t",
      StructType(Seq(StructField("id", LongType))))
    w2.close()
    val whole = Files.readAllBytes(Paths.get(path2))
    Files.write(Paths.get(path2), whole.dropRight(5))
    assert(MysqlBinlog.lastCompleteOffset(path2) > 4L)
  }

  test("every byte-truncation of a log decodes a clean row prefix or throws — both flavors") {
    // the producer can die mid-write at ANY byte: for every truncation
    // length the reader must either end cleanly on the torn tail
    // (yielding a PREFIX of the full row sequence — never rows the full
    // decode doesn't contain, never reordered) or fail loud. No
    // truncation may hang or mis-decode; CRC32 guards mid-event cuts.
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("name", StringType)))
    val dir = tmpDir()
    def author(path: String, maria: Boolean): Unit = {
      val w = new MysqlBinlog.Writer(path, checksum = true, maria = maria)
      if (maria) w.gtidList(Nil)
      (1L to 3L).foreach { g =>
        if (maria) w.gtidMaria(g * 1000L, g, domain = 0L)
        else { w.gtid(g * 1000L, g, Sid); w.query(g * 1000L, "db", "BEGIN") }
        w.tableMap(g * 1000L, 9L, "db", "t", schema)
        w.writeRows(g * 1000L, 9L, schema,
          Seq(Array[Any](g * 10L, s"r$g"), Array[Any](g * 10L + 1L, s"s$g")))
        w.xid(g * 1000L, g)
      }
      w.close()
    }
    def decodeIds(path: String, maria: Boolean): Seq[Long] = {
      val adapter = if (maria) graft.cdc.MariaDbAdapter
        else graft.cdc.MysqlBinlogAdapter
      val r = adapter.open(path)
      val dec = adapter.decoder("db", "t")
      try r.flatMap(dec.decode).map(_.values(0).asInstanceOf[Long]).toList
      finally r.close()
    }
    Seq(false, true).foreach { maria =>
      val path = s"$dir/trunc-${if (maria) "m" else "y"}.000001"
      author(path, maria)
      val full = Files.readAllBytes(Paths.get(path))
      val fullIds = decodeIds(path, maria)
      assert(fullIds.size == 6, s"fixture decodes $fullIds")
      var prefixes = 0
      (4 until full.length).foreach { cut =>
        val p = Paths.get(s"$dir/cut-${if (maria) "m" else "y"}")
        Files.write(p, java.util.Arrays.copyOf(full, cut))
        // fail-loud decode is always sound — but the prefix assertion
        // must run OUTSIDE the tolerance catch, or a mis-decode
        // (non-prefix rows) would be swallowed as if it were fail-loud
        val got = try Some(decodeIds(p.toString, maria))
          catch { case _: Exception => None }
        got.foreach { ids =>
          assert(ids == fullIds.take(ids.size),
            s"cut=$cut yielded non-prefix $ids (maria=$maria)")
          prefixes += 1
        }
      }
      assert(prefixes > 0, "at least the event-boundary cuts must decode")
    }
  }

  test("truncated COLUMN_NAME metadata fails loud at TABLE_MAP parse") {
    // 2 columns declared, 1 name in the TLV: downstream the parallel
    // (name, type) zip would silently truncate and misclassify real
    // drift as additive — the parse itself must reject it
    val b = new java.io.ByteArrayOutputStream()
    def u8(v: Int) = b.write(v & 0xff)
    def raw(a: Array[Byte]) = b.write(a)
    raw(Array[Byte](1, 0, 0, 0, 0, 0)) // table id
    u8(1); u8(0)                       // flags
    u8(2); raw("db".getBytes); u8(0)   // db
    u8(1); raw("t".getBytes); u8(0)    // table
    u8(2)                              // 2 columns
    u8(8); u8(8)                       // LONGLONG, LONGLONG
    u8(0)                              // metadata block: empty
    u8(0)                              // null bitmap
    u8(4); u8(3); u8(2); raw("id".getBytes) // COLUMN_NAME: only "id"
    val ex = intercept[Exception] {
      MysqlBinlog.parseTableMap(b.toByteArray)
    }
    assert(ex.getMessage.contains("COLUMN_NAME") &&
      ex.getMessage.contains("truncated"), ex.getMessage)
  }

  test("v4 round trip: all column types, multi-row events, update pairs, nulls") {
    val dir = tmpDir()
    val path = s"$dir/mysql-bin.000001"
    val w = new MysqlBinlog.Writer(path)
    w.tableMap(10000L, 7L, "db", "t", wideSchema)
    w.gtid(10000L, 5L, Sid)
    w.writeRows(10000L, 7L, wideSchema, Seq(wideRow(1), wideRow(2), wideRow(3)))
    w.gtid(11000L, 6L, Sid)
    val before = wideRow(2)
    val after = wideRow(2); after(5) = 99.75
    w.updateRows(11000L, 7L, wideSchema, Seq((before, after)))
    w.gtid(12000L, 7L, Sid)
    val withNulls = wideRow(4)
    withNulls(6) = null; withNulls(9) = null // c_str, c_ts
    w.deleteRows(12000L, 7L, wideSchema, Seq(withNulls))
    w.close()

    val rows = decodeAll(path, "db", "t")
    assert(rows.map(_.op) == Seq(1, 1, 1, 2, 3, 0))
    assert(rows.map(_.gtid) == Seq(5L, 5L, 5L, 6L, 6L, 7L))
    assert(rows.forall(_.sourceId == UTF8String.fromString(Sid)))
    assert(rows.head.tmMicros == 10000L * 1000L)

    val r1 = rows.head.values
    assert(r1(0) == 1L && r1(1) == 2 && r1(2) == 3.toShort && r1(3) == 1.toByte)
    assert(r1(4) == 2.5f && r1(5) == 3.25)
    assert(r1(6) == UTF8String.fromString("s1"))
    assert(java.util.Arrays.equals(r1(7).asInstanceOf[Array[Byte]], Array[Byte](1, 2)))
    assert(r1(8) == 19001)
    assert(r1(9) == 1704067200000000L + 1000000L)
    assert(r1(10) == 1704067200000000L + 1000000L + 123456L)

    // update pair: before then after, same gtid, price changed
    assert(rows(3).op == CdcSchema.Op.UpdateBefore && rows(3).values(5) == 4.25)
    assert(rows(4).op == CdcSchema.Op.UpdateAfter && rows(4).values(5) == 99.75)

    // nulls survive the null bitmap
    val del = rows(5).values
    assert(del(6) == null && del(9) == null && del(0) == 4L)

    // decimal rides along at the tail of every image
    assert(r1(11) == org.apache.spark.sql.types.Decimal(
      java.math.BigDecimal.valueOf(125, 2), 12, 2))
    assert(del(11) == org.apache.spark.sql.types.Decimal(
      java.math.BigDecimal.valueOf(425, 2), 12, 2))
  }

  test("NEWDECIMAL: documented wire bytes, group boundaries, signs, round trip") {
    import MysqlBinlog.{encodeDecimal, ColType}
    // The worked example from the public format description:
    // DECIMAL(14,4) of 1234567890.1234 packs to 81 0D FB 38 D2 04 D2.
    val known = encodeDecimal(new java.math.BigDecimal("1234567890.1234"), 14, 4)
    assert(known.map(b => f"$b%02X").mkString(" ") == "81 0D FB 38 D2 04 D2")
    assert(known.length == ColType.decimalBinSize(14, 4))

    // negative of the same value: every byte complemented before the
    // sign-bit flip — decodes back exactly
    val neg = encodeDecimal(new java.math.BigDecimal("-1234567890.1234"), 14, 4)
    assert((neg(0) & 0x80) == 0 && neg.length == known.length)

    // round trip through a real log across the group-boundary shapes:
    // full-group-only ints, partial groups both sides, frac-only,
    // multi-group wide ints, scale-9 full frac group, max digits
    val shapes = Seq(
      (DecimalType(9, 0), Seq("0", "1", "999999999", "-999999999")),
      (DecimalType(12, 2), Seq("0.00", "0.05", "-0.05", "1234567890.12")),
      (DecimalType(18, 6), Seq("123456789012.345678", "-0.000001")),
      (DecimalType(20, 9), Seq("12345678901.234567891", "-99999999999.999999999")),
      (DecimalType(28, 6), Seq("1234567890123456789012.345678", "-1000003.000000")),
      (DecimalType(6, 6), Seq("0.123456", "-0.999999")),
      (DecimalType(38, 10), Seq("9999999999999999999999999999.9999999999",
        "-9999999999999999999999999999.9999999999")))
    shapes.foreach { case (dt, vals) =>
      val schema = StructType(Seq(StructField("k", LongType),
        StructField("d", dt)))
      val dir = tmpDir()
      val path = s"$dir/mysql-bin.000001"
      val w = new MysqlBinlog.Writer(path)
      w.tableMap(1000L, 3L, "db", "t", schema)
      w.gtid(1000L, 1L, Sid)
      w.writeRows(1000L, 3L, schema,
        vals.zipWithIndex.map { case (v, i) =>
          Array[Any](i.toLong, new java.math.BigDecimal(v))
        } :+ Array[Any](vals.length.toLong, null))
      w.close()
      val rows = decodeAll(path, "db", "t")
      assert(rows.length == vals.length + 1)
      vals.zipWithIndex.foreach { case (v, i) =>
        val got = rows(i).values(1).asInstanceOf[org.apache.spark.sql.types.Decimal]
        assert(got.toJavaBigDecimal.compareTo(new java.math.BigDecimal(v)) == 0,
          s"$dt: $v decoded as $got")
        assert(got.precision == dt.precision && got.scale == dt.scale)
      }
      assert(rows.last.values(1) == null) // null bitmap covers decimal too
    }

    // precision overflow fails loud at write time, not as corrupt bytes
    intercept[IllegalArgumentException] {
      encodeDecimal(new java.math.BigDecimal("100.00"), 4, 2)
    }
  }

  test("NEWDECIMAL: an impossible digit group fails loud, naming the log offset") {
    // DECIMAL(20,0) packs [2-digit partial group: 1 byte][9 digits: 4 bytes]
    // [9 digits: 4 bytes]. With binlog_checksum=NONE no CRC guards the
    // bytes, so a 4-byte group of 1,500,000,000 (ten digits) must be
    // refused like mysqld's bin2decimal refuses it — read as written it
    // would splice ten digits into nine and decode 1500000000000000001
    val schema = StructType(Seq(StructField("d", DecimalType(20, 0))))
    val path = s"${tmpDir()}/mysql-bin.000001"
    val w = new MysqlBinlog.Writer(path)
    w.tableMap(1000L, 3L, "db", "t", schema)
    w.gtid(1000L, 1L, Sid)
    w.writeRows(1000L, 3L, schema,
      Seq(Array[Any](new java.math.BigDecimal("123456789"))))
    w.close()
    val good = MysqlBinlog.encodeDecimal(new java.math.BigDecimal("123456789"), 20, 0)
    val bytes = Files.readAllBytes(Paths.get(path))
    val at = bytes.indexOfSlice(good.toSeq)
    assert(at > 0 && bytes.indexOfSlice(good.toSeq, at + 1) < 0)
    // the first full group: 1,500,000,000 big-endian
    Array(0x59, 0x68, 0x2f, 0x00).zipWithIndex.foreach { case (b, i) =>
      bytes(at + 1 + i) = b.toByte }
    Files.write(Paths.get(path), bytes)
    val ex = intercept[java.io.IOException](decodeAll(path, "db", "t"))
    assert(ex.getMessage.contains("NEWDECIMAL at log offset") &&
      ex.getMessage.contains("1500000000"), ex.getMessage)
    // the same for a leading partial group past its digit count (2
    // digits in one byte: 100 is three), on the long-backed side too
    val small = StructType(Seq(StructField("d", DecimalType(11, 0))))
    val p2 = s"${tmpDir()}/mysql-bin.000001"
    val w2 = new MysqlBinlog.Writer(p2)
    w2.tableMap(1000L, 3L, "db", "t", small)
    w2.gtid(1000L, 1L, Sid)
    w2.writeRows(1000L, 3L, small,
      Seq(Array[Any](new java.math.BigDecimal("987654321"))))
    w2.close()
    val good2 = MysqlBinlog.encodeDecimal(new java.math.BigDecimal("987654321"), 11, 0)
    val bytes2 = Files.readAllBytes(Paths.get(p2))
    val at2 = bytes2.indexOfSlice(good2.toSeq)
    assert(at2 > 0)
    bytes2(at2) = (100 ^ 0x80).toByte // positive: sign bit set
    Files.write(Paths.get(p2), bytes2)
    val ex2 = intercept[java.io.IOException](decodeAll(p2, "db", "t"))
    assert(ex2.getMessage.contains("NEWDECIMAL at log offset"), ex2.getMessage)
  }

  test("a row a pushed __gtid filter drops is never decoded") {
    // the envelope predicate runs before any image byte is decoded:
    // gtid 1's row carries an impossible DATE (2024-02-30, no CRC to
    // catch it), so only a scan that decodes it fails
    val schema = StructType(Seq(StructField("id", LongType), StructField("d", DateType)))
    val dir = tmpDir()
    val path = s"$dir/mysql-bin.000001"
    val w = new MysqlBinlog.Writer(path)
    w.tableMap(1000L, 3L, "db", "t", schema)
    w.gtid(1000L, 1L, Sid)
    w.writeRows(1000L, 3L, schema,
      Seq(Array[Any](1L, java.time.LocalDate.of(2024, 2, 29).toEpochDay.toInt)))
    w.gtid(2000L, 2L, Sid)
    w.writeRows(2000L, 3L, schema,
      Seq(Array[Any](2L, java.time.LocalDate.of(2024, 3, 1).toEpochDay.toInt)))
    w.close()
    Files.writeString(Paths.get(dir, "binlog.index"), "mysql-bin.000001\n")
    // DATE packs day + month*32 + year*512, 3 bytes little-endian
    val feb29 = Seq(0x5d, 0xd0, 0x0f).map(_.toByte)
    val bytes = Files.readAllBytes(Paths.get(path))
    val at = bytes.indexOfSlice(feb29)
    assert(at > 0 && bytes.indexOfSlice(feb29, at + 1) < 0)
    bytes(at) = 0x5e // day 30
    Files.write(Paths.get(path), bytes)
    val df = spark.read.format("binlogcdc")
      .option("indexFile", s"$dir/binlog.index")
      .option("database", "db").option("table", "t")
      .option("binlogFormat", "mysql").load()
    assert(df.filter(col(CdcSchema.GtidCol) === 2L).select("id", "d").collect()
      .map(r => (r.getLong(0), r.getDate(1).toLocalDate)).toSeq ==
      Seq((2L, java.time.LocalDate.of(2024, 3, 1))))
    val ex = intercept[Exception](df.select("id", "d").collect())
    assert(Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null)
      .exists(e => String.valueOf(e.getMessage).contains("impossible date 2024-2-30")), ex)
  }

  test("TABLE_MAP reuse: a re-mapped table id decodes under the map in force") {
    // mysqld writes the same TABLE_MAP before every transaction; the
    // decoder skips re-parsing bytes equal to the map in force. One
    // table id re-mapped to a different column list, then back, must
    // decode every rows event under the map in force at that point
    val a = StructType(Seq(StructField("id", LongType), StructField("s", StringType)))
    val b = StructType(Seq(StructField("id", LongType), StructField("n", IntegerType),
      StructField("x", DoubleType)))
    val path = s"${tmpDir()}/mysql-bin.000001"
    val w = new MysqlBinlog.Writer(path)
    var gno = 0L
    def txn(schema: StructType, row: Array[Any]): Unit = {
      gno += 1
      w.tableMap(1000L * gno, 7L, "db", "t", schema)
      w.gtid(1000L * gno, gno, Sid)
      w.writeRows(1000L * gno, 7L, schema, Seq(row))
    }
    txn(a, Array[Any](1L, "one"))
    txn(a, Array[Any](2L, "two")) // identical map bytes: reused
    txn(b, Array[Any](3L, 30, 3.5)) // same id, new column list
    txn(b, Array[Any](4L, 40, 4.5))
    txn(a, Array[Any](5L, "five")) // back to the first map
    w.close()
    val rows = decodeAll(path, "db", "t").map(_.values.toSeq)
    assert(rows == Seq(
      Seq(1L, UTF8String.fromString("one")), Seq(2L, UTF8String.fromString("two")),
      Seq(3L, 30, 3.5), Seq(4L, 40, 4.5), Seq(5L, UTF8String.fromString("five"))))
    // under the default drift policy the changed map still fails loud,
    // at its own offset
    val firstB = {
      val r = MysqlBinlogAdapter.open(path)
      try r.filter(_.tpe == MysqlBinlog.EventType.TableMap).drop(2).next().pos
      finally r.close()
    }
    val ex = intercept[IllegalStateException](decodeAll(path, "db", "t",
      expected = Some(a)))
    assert(ex.getMessage.contains(s"schema drift for db.t at log offset $firstB"),
      ex.getMessage)
  }

  test("compressed transactions: zstd payload decodes to the identical stream") {
    // the same storyline written plain and with binlog_transaction_
    // compression semantics must decode to byte-identical rows
    def writeStory(path: String, compress: Boolean): Unit = {
      val w = new MysqlBinlog.Writer(path, checksum = true,
        compressTxns = compress)
      w.tableMap(10000L, 7L, "db", "t", wideSchema)
      (0 until 5).foreach { g =>
        w.gtid(10000L + g, g.toLong, Sid)
        w.tableMap(10000L + g, 7L, "db", "t", wideSchema) // per-txn, like mysqld
        w.writeRows(10000L + g, 7L, wideSchema,
          Seq(wideRow(g * 3L), wideRow(g * 3L + 1)))
        if (g % 2 == 0) {
          val before = wideRow(g * 3L); val after = wideRow(g * 3L); after(5) = 7.5
          w.updateRows(10000L + g, 7L, wideSchema, Seq((before, after)))
        }
      }
      w.close()
    }
    val dir = tmpDir()
    writeStory(s"$dir/plain.000001", compress = false)
    writeStory(s"$dir/zstd.000001", compress = true)
    val plain = decodeAll(s"$dir/plain.000001", "db", "t")
    val zstd = decodeAll(s"$dir/zstd.000001", "db", "t")
    assert(plain.length == zstd.length && plain.length == 16)
    plain.zip(zstd).foreach { case (p, z) =>
      assert(p.op == z.op && p.gtid == z.gtid && p.tmMicros == z.tmMicros)
      p.values.zip(z.values).foreach {
        case (a: Array[Byte], b: Array[Byte]) =>
          assert(java.util.Arrays.equals(a, b))
        case (a, b) => assert(a == b)
      }
    }
    // the compressed file is genuinely smaller (whole point of the mode)
    val plainLen = new java.io.File(s"$dir/plain.000001").length()
    val zstdLen = new java.io.File(s"$dir/zstd.000001").length()
    assert(zstdLen < plainLen, s"zstd $zstdLen !< plain $plainLen")

    // corrupt one byte INSIDE a compressed payload: the outer CRC
    // fails loud before zstd ever sees the bytes
    val bytes = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/zstd.000001"))
    bytes(bytes.length - 20) = (bytes(bytes.length - 20) ^ 0x40).toByte
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/corrupt.000001"), bytes)
    val e = intercept[Exception] { decodeAll(s"$dir/corrupt.000001", "db", "t") }
    assert(e.getMessage != null)
  }

  test("statement framing (BEGIN/XID/DDL) decodes identically plain and compressed") {
    // the full mysqld event chain — GTID, QUERY(BEGIN), TABLE_MAP,
    // rows, XID — with a DDL (own GTID scope, no XID) between
    // transactions; under compressTxns the framing rides INSIDE the
    // payloads. Decode must be byte-identical either way, rows must
    // carry their own txn's gno, and no DDL gno may ever stamp a row.
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("name", StringType)))
    def writeStory(path: String, compress: Boolean): Unit = {
      val w = new MysqlBinlog.Writer(path, checksum = true,
        compressTxns = compress)
      (0 until 4).foreach { g =>
        val ts = 1000L + g
        w.gtid(ts, g.toLong, Sid)
        w.query(ts, "db", "BEGIN")
        w.tableMap(ts, 9L, "db", "t", schema)
        w.writeRows(ts, 9L, schema, Seq(Array[Any](g.toLong, s"n$g")))
        w.xid(ts, g.toLong)
        if (g % 2 == 1) { // DDL between transactions, no XID
          w.gtid(ts, 500L + g, Sid)
          w.query(ts, "db", s"ALTER TABLE t COMMENT 'epoch $g'")
        }
      }
      w.close()
    }
    val dir = tmpDir()
    writeStory(s"$dir/plain.000001", compress = false)
    writeStory(s"$dir/zstd.000001", compress = true)
    val plain = decodeAll(s"$dir/plain.000001", "db", "t")
    val zstd = decodeAll(s"$dir/zstd.000001", "db", "t")
    assert(plain.length == 4 && zstd.length == 4)
    plain.zip(zstd).foreach { case (p, z) =>
      assert(p.op == z.op && p.gtid == z.gtid && p.tmMicros == z.tmMicros)
    }
    assert(plain.map(_.gtid).toSeq == Seq(0L, 1L, 2L, 3L),
      "rows must carry their own txn's gno — never a DDL gno")
  }

  test("SAVEPOINT / ROLLBACK TO / XA START-END inside a txn body keep identity; bare ROLLBACK closes") {
    // mysqld statement-logs these INSIDE a live row-format transaction —
    // they must not close the identity scope (a SAVEPOINT mid-txn would
    // otherwise fail-loud every row after it on a valid log)
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("name", StringType)))
    val dir = tmpDir()
    val path = s"$dir/mysql-bin.000001"
    val w = new MysqlBinlog.Writer(path, checksum = true)
    w.gtid(1000L, 1L, Sid)
    w.query(1000L, "db", "BEGIN")
    w.tableMap(1000L, 9L, "db", "t", schema)
    w.writeRows(1000L, 9L, schema, Seq(Array[Any](1L, "a")))
    w.query(1000L, "db", "SAVEPOINT `s1`")
    w.writeRows(1000L, 9L, schema, Seq(Array[Any](2L, "b")))
    w.query(1000L, "db", "ROLLBACK TO SAVEPOINT `s1`")
    w.writeRows(1000L, 9L, schema, Seq(Array[Any](3L, "c")))
    w.xid(1000L, 1L)
    // XA transaction: XA START/END bracket the rows, XA PREPARE (its
    // own statement) closes the scope like any other non-body statement
    w.gtid(1001L, 2L, Sid)
    w.query(1001L, "db", "XA START X'ab',X'01',1")
    w.tableMap(1001L, 9L, "db", "t", schema)
    w.writeRows(1001L, 9L, schema, Seq(Array[Any](4L, "d")))
    w.query(1001L, "db", "XA END X'ab',X'01',1")
    w.query(1001L, "db", "XA PREPARE X'ab',X'01',1")
    w.close()
    val rows = decodeAll(path, "db", "t")
    assert(rows.map(_.gtid).toSeq == Seq(1L, 1L, 1L, 2L),
      "statements logged inside a txn body must not clear identity")
    // bare ROLLBACK (no TO) ends the txn: rows after it with no new
    // GTID fail loud instead of inheriting the rolled-back gno
    val w2 = new MysqlBinlog.Writer(s"$dir/mysql-bin.000002", checksum = true)
    w2.gtid(2000L, 5L, Sid)
    w2.query(2000L, "db", "BEGIN")
    w2.tableMap(2000L, 9L, "db", "t", schema)
    w2.query(2000L, "db", "ROLLBACK")
    w2.writeRows(2000L, 9L, schema, Seq(Array[Any](9L, "z")))
    w2.close()
    val e = intercept[Exception] { decodeAll(s"$dir/mysql-bin.000002", "db", "t") }
    assert(e.getMessage.contains("no live transaction identity"), e.getMessage)
  }

  test("MIXED format: statement-logged DML inside a BEGIN body keeps identity; QUERY(COMMIT) closes") {
    // binlog_format=MIXED: the optimizer statement-logs ONE statement of
    // a transaction (e.g. an UPDATE with a non-deterministic-safe plan)
    // while the rest row-logs. That QUERY event arrives INSIDE the
    // BEGIN-opened body, before the target table's row events — it must
    // not close the identity scope (round-10 behavior rejected such
    // valid logs as 'unrecognized identity event or spliced').
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("name", StringType)))
    val dir = tmpDir()
    val path = s"$dir/mysql-bin.000001"
    val w = new MysqlBinlog.Writer(path, checksum = true)
    w.gtid(1000L, 1L, Sid)
    w.query(1000L, "db", "BEGIN")
    w.query(1000L, "db", "UPDATE other SET v = v + 1 WHERE k = 3")
    w.tableMap(1000L, 9L, "db", "t", schema)
    w.writeRows(1000L, 9L, schema, Seq(Array[Any](1L, "a")))
    w.xid(1000L, 1L)
    // non-transactional engine: the txn terminates with QUERY(COMMIT),
    // not an XID — the terminator must close body AND scope, so rows
    // after it (no new GTID) fail loud instead of inheriting gno 2
    w.gtid(1001L, 2L, Sid)
    w.query(1001L, "db", "BEGIN")
    w.tableMap(1001L, 9L, "db", "t", schema)
    w.writeRows(1001L, 9L, schema, Seq(Array[Any](2L, "b")))
    w.query(1001L, "db", "COMMIT")
    w.close()
    val rows = decodeAll(path, "db", "t")
    assert(rows.map(_.gtid).toSeq == Seq(1L, 2L),
      "in-body statement-logged DML must not clear identity; COMMIT closes")
    // ...and a DML-looking statement OUTSIDE any body still closes the
    // scope (standalone statement-logged txn under MIXED has its own
    // GTID; a row event after it without a fresh opener is spliced)
    val w2 = new MysqlBinlog.Writer(s"$dir/mysql-bin.000002", checksum = true)
    w2.gtid(2000L, 5L, Sid)
    w2.query(2000L, "db", "UPDATE other SET v = 1")
    w2.tableMap(2000L, 9L, "db", "t", schema)
    w2.writeRows(2000L, 9L, schema, Seq(Array[Any](9L, "z")))
    w2.close()
    val e2 = intercept[Exception] { decodeAll(s"$dir/mysql-bin.000002", "db", "t") }
    assert(e2.getMessage.contains("no live transaction identity"), e2.getMessage)
  }

  test("binary XA_PREPARE (type 38) closes the identity scope like the statement form") {
    // mysqld logs XA PREPARE / one-phase XA COMMIT as the BINARY
    // XA_PREPARE_LOG_EVENT, not a QUERY — treating it as unknown
    // control would leave the prepared txn's gno live, the stale-stamp
    // class the scope machinery exists to prevent
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("name", StringType)))
    val dir = tmpDir()
    val path = s"$dir/mysql-bin.000001"
    val w = new MysqlBinlog.Writer(path, checksum = true)
    w.gtid(1000L, 1L, Sid)
    w.query(1000L, "db", "XA START X'ab',X'',1")
    w.tableMap(1000L, 9L, "db", "t", schema)
    w.writeRows(1000L, 9L, schema, Seq(Array[Any](1L, "a")))
    w.query(1000L, "db", "XA END X'ab',X'',1")
    w.xaPrepare(1000L, "ab")
    w.gtid(2000L, 2L, Sid)
    w.query(2000L, "db", "BEGIN")
    w.tableMap(2000L, 9L, "db", "t", schema)
    w.writeRows(2000L, 9L, schema, Seq(Array[Any](2L, "b")))
    w.xid(2000L, 2L)
    w.close()
    assert(decodeAll(path, "db", "t").map(_.gtid).toSeq == Seq(1L, 2L))
    // rows spliced after the binary prepare with no fresh gtid fail loud
    val w2 = new MysqlBinlog.Writer(s"$dir/mysql-bin.000002", checksum = true)
    w2.gtid(1000L, 5L, Sid)
    w2.query(1000L, "db", "XA START X'cd',X'',1")
    w2.tableMap(1000L, 9L, "db", "t", schema)
    w2.query(1000L, "db", "XA END X'cd',X'',1")
    w2.xaPrepare(1000L, "cd")
    w2.writeRows(1000L, 9L, schema, Seq(Array[Any](9L, "z")))
    w2.close()
    val e = intercept[Exception] { decodeAll(s"$dir/mysql-bin.000002", "db", "t") }
    assert(e.getMessage.contains("no live transaction identity"), e.getMessage)
  }

  test("malformed QUERY payload inside a body closes the scope (conservative direction)") {
    // a QUERY event whose statement text is empty/unparseable could be a
    // corrupted COMMIT as easily as a corrupted in-body DML — keeping
    // the scope open risks stamping a LATER transaction's rows with the
    // stale gno (the exact corruption class the scope machinery
    // prevents). The conservative read: scope closes, later rows fail
    // loud instead of mis-attributing.
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("name", StringType)))
    val dir = tmpDir()
    val path = s"$dir/mysql-bin.000001"
    val w = new MysqlBinlog.Writer(path, checksum = true)
    w.gtid(1000L, 1L, Sid)
    w.query(1000L, "db", "BEGIN")
    w.query(1000L, "db", "") // unparseable statement mid-body
    w.tableMap(1000L, 9L, "db", "t", schema)
    w.writeRows(1000L, 9L, schema, Seq(Array[Any](1L, "a")))
    w.close()
    val e = intercept[Exception] { decodeAll(path, "db", "t") }
    assert(e.getMessage.contains("no live transaction identity"), e.getMessage)
  }

  test("PARTIAL_JSON: diff vectors in the after image apply against the before document") {
    import graft.cdc.JsonBinary
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("doc", StringType), StructField("note", StringType)))
    val dir = tmpDir()
    val path = s"$dir/mysql-bin.000001"
    val w = new MysqlBinlog.Writer(path, checksum = true,
      jsonCols = Set("doc"))
    val before = """{"a":1,"b":{"x":"old","keep":true},"arr":[10,20,30]}"""
    w.gtid(1000L, 1L, Sid)
    w.query(1000L, "db", "BEGIN")
    w.tableMap(1000L, 9L, "db", "t", schema)
    w.writeRows(1000L, 9L, schema, Seq(Array[Any](1L, before, "n1")))
    w.xid(1000L, 1L)
    w.gtid(1001L, 2L, Sid)
    w.query(1001L, "db", "BEGIN")
    w.tableMap(1001L, 9L, "db", "t", schema)
    w.updateRowsPartialJson(1001L, 9L, schema, Seq((
      Array[Any](1L, before, "n1"),
      Array[Any](1L, null /* ignored: diffed */, "n2"),
      Map("doc" -> Seq(
        (0, "$.b.x", Some("\"new\"")),   // REPLACE nested member
        (1, "$.flag", Some("true")),     // INSERT object member
        (2, "$.a", None),                // REMOVE member
        (0, "$.arr[1]", Some("99")),     // REPLACE array element
        (1, "$.arr[3]", Some("40")),     // INSERT = append at size
        (2, "$.arr[0]", None))))))       // REMOVE array element
    w.xid(1001L, 2L)
    w.close()
    val rows = decodeAll(path, "db", "t")
    assert(rows.length == 3)
    val after = rows.last
    assert(after.op == CdcSchema.Op.UpdateAfter && after.gtid == 2L)
    val expected = JsonBinary.decode(JsonBinary.encode(
      """{"b":{"x":"new","keep":true},"arr":[99,30,40],"flag":true}"""))
    assert(after.values(1).toString == expected, after.values(1))
    assert(after.values(2).toString == "n2", "non-JSON columns update normally")
    // the before row of the pair is untouched by the diffs
    assert(rows(1).values(1).toString ==
      JsonBinary.decode(JsonBinary.encode(before)))
  }

  test("PARTIAL_JSON: inapplicable diff fails loud; pruned reads never apply diffs") {
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("doc", StringType)))
    val dir = tmpDir()
    val path = s"$dir/mysql-bin.000001"
    val w = new MysqlBinlog.Writer(path, checksum = true,
      jsonCols = Set("doc"))
    val before = """{"a":1}"""
    w.gtid(1000L, 1L, Sid)
    w.query(1000L, "db", "BEGIN")
    w.tableMap(1000L, 9L, "db", "t", schema)
    w.writeRows(1000L, 9L, schema, Seq(Array[Any](1L, before)))
    w.updateRowsPartialJson(1000L, 9L, schema, Seq((
      Array[Any](1L, before), Array[Any](1L, null),
      Map("doc" -> Seq((0, "$.missing", Some("1")))))))  // REPLACE absent
    w.xid(1000L, 1L)
    w.close()
    val e = intercept[Exception] { decodeAll(path, "db", "t") }
    assert(e.getMessage.contains("json diff cannot apply") &&
      e.getMessage.contains("missing"), e.getMessage)
    // a projection that never touches the JSON column skips the diff
    // bytes without applying them — the inapplicable diff is invisible
    val pruned = decodeAll(path, "db", "t", needed = i => i == 0)
    assert(pruned.map(_.values(0)).toSeq == Seq(1L, 1L, 1L))
  }

  test("mysql::serialization prefix-varint: round trip + reference encodings") {
    import MysqlBinlog.{svarEncode, svarDecode}
    // reference bytes: marker = N trailing ones before the first zero
    // bit = N additional bytes; value in the remaining LE bits
    assert(svarEncode(0L).toSeq == Seq(0x00.toByte))
    assert(svarEncode(1L).toSeq == Seq(0x02.toByte))
    assert(svarEncode(127L).toSeq == Seq(0xfe.toByte))
    assert(svarEncode(128L).toSeq == Seq(0x01.toByte, 0x02.toByte))
    assert(svarEncode(-1L).length == 9, "unsigned max = 0xFF + 8 raw bytes")
    val edges = Seq(0L, 1L, 127L, 128L, 16383L, 16384L,
      (1L << 21) - 1, 1L << 21, (1L << 49) - 1, (1L << 56) - 1, 1L << 56,
      Long.MaxValue, -1L, Long.MinValue)
    edges.foreach { v =>
      val enc = svarEncode(v)
      val (dec, used) = svarDecode(enc)
      assert(dec == v && used == enc.length, s"round trip of $v: got $dec over $used/${enc.length}B")
    }
  }

  test("tagged GTID (type 42): txns decode with uuid:tag identity, interleaved with untagged") {
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("name", StringType)))
    val dir = tmpDir()
    val path = s"$dir/mysql-bin.000001"
    val w = new MysqlBinlog.Writer(path, checksum = true)
    // untagged txn
    w.gtid(1000L, 1L, Sid)
    w.query(1000L, "db", "BEGIN")
    w.tableMap(1000L, 9L, "db", "t", schema)
    w.writeRows(1000L, 9L, schema, Seq(Array[Any](1L, "a")))
    w.xid(1000L, 1L)
    // tagged txn: separate gno space per (uuid, tag)
    w.gtidTagged(1001L, 1L, Sid, "analytics")
    w.query(1001L, "db", "BEGIN")
    w.tableMap(1001L, 9L, "db", "t", schema)
    w.writeRows(1001L, 9L, schema, Seq(Array[Any](2L, "b")))
    w.xid(1001L, 2L)
    // a second tag shares the uuid but is its own identity stream
    w.gtidTagged(1002L, 1L, Sid, "Repair_2024")
    w.query(1002L, "db", "BEGIN")
    w.tableMap(1002L, 9L, "db", "t", schema)
    w.writeRows(1002L, 9L, schema, Seq(Array[Any](3L, "c")))
    w.xid(1002L, 3L)
    // untagged again: identity reverts to the bare uuid
    w.gtid(1003L, 2L, Sid)
    w.query(1003L, "db", "BEGIN")
    w.tableMap(1003L, 9L, "db", "t", schema)
    w.writeRows(1003L, 9L, schema, Seq(Array[Any](4L, "d")))
    w.xid(1003L, 4L)
    w.close()
    val rows = decodeAll(path, "db", "t")
    assert(rows.map(r => (r.gtid, r.sourceId.toString)).toSeq == Seq(
      (1L, Sid),
      (1L, s"$Sid:analytics"),
      (1L, s"$Sid:repair_2024"), // tag case-folds to lower, as mysqld does
      (2L, Sid)),
      "tagged identity must ride __source_id as uuid:tag; gnos are per-tag")
  }

  test("ROWS_QUERY: per-statement stamping, replacement in a txn, cleared at XID") {
    // binlog_rows_query_log_events=ON writes one ROWS_QUERY per
    // row-logged statement, before its TABLE_MAPs. The decoder stamps
    // the CURRENT statement on each row, replaces it at the next
    // statement's event, and clears it with the identity scope — so a
    // flag-off transaction reads null, never the previous txn's text.
    val schema = StructType(Seq(StructField("id", LongType)))
    def writeStory(path: String, compress: Boolean): Unit = {
      val w = new MysqlBinlog.Writer(path, checksum = true,
        compressTxns = compress)
      // txn 1: two statements, each under its own ROWS_QUERY
      w.gtid(10000L, 1L, Sid)
      w.query(10000L, "db", "BEGIN")
      w.rowsQuery(10000L, "INSERT INTO t VALUES (1)")
      w.tableMap(10000L, 7L, "db", "t", schema)
      w.writeRows(10000L, 7L, schema, Seq(Array[Any](1L)))
      w.rowsQuery(10000L, "UPDATE t SET id = 2 WHERE id = 1")
      w.tableMap(10000L, 7L, "db", "t", schema)
      w.updateRows(10000L, 7L, schema, Seq((Array[Any](1L), Array[Any](2L))))
      w.xid(10000L, 1L)
      // txn 2: producer session with the flag off — no ROWS_QUERY
      w.gtid(11000L, 2L, Sid)
      w.query(11000L, "db", "BEGIN")
      w.tableMap(11000L, 7L, "db", "t", schema)
      w.writeRows(11000L, 7L, schema, Seq(Array[Any](3L)))
      w.xid(11000L, 2L)
      w.close()
    }
    val dir = tmpDir()
    writeStory(s"$dir/plain.000001", compress = false)
    writeStory(s"$dir/zstd.000001", compress = true)
    for (f <- Seq("plain.000001", "zstd.000001")) {
      val rows = decodeAll(s"$dir/$f", "db", "t")
      assert(rows.map(_.op) == Seq(1, 2, 3, 1), f)
      assert(rows.map(r => Option(r.query).map(_.toString)) == Seq(
        Some("INSERT INTO t VALUES (1)"),
        Some("UPDATE t SET id = 2 WHERE id = 1"),
        Some("UPDATE t SET id = 2 WHERE id = 1"),
        None), s"$f: per-statement stamping with XID-scoped clearing")
    }
  }

  test("DSv2: rowsQuery=true appends nullable __query; gcdc format declines") {
    val schema = StructType(Seq(StructField("id", LongType)))
    val dir = tmpDir()
    val w = new MysqlBinlog.Writer(s"$dir/mysql-bin.000001", checksum = true)
    w.gtid(1000L, 1L, Sid)
    w.query(1000L, "db", "BEGIN")
    w.rowsQuery(1000L, "INSERT INTO t VALUES (1),(2)")
    w.tableMap(1000L, 7L, "db", "t", schema)
    w.writeRows(1000L, 7L, schema, Seq(Array[Any](1L), Array[Any](2L)))
    w.xid(1000L, 1L)
    w.gtid(2000L, 2L, Sid) // flag-off txn: __query must read null
    w.query(2000L, "db", "BEGIN")
    w.tableMap(2000L, 7L, "db", "t", schema)
    w.writeRows(2000L, 7L, schema, Seq(Array[Any](3L)))
    w.xid(2000L, 2L)
    w.close()
    Files.writeString(Paths.get(dir, "binlog.index"), "mysql-bin.000001\n")
    val df = spark.read.format("binlogcdc")
      .option("indexFile", s"$dir/binlog.index")
      .option("database", "db").option("table", "t")
      .option("binlogFormat", "mysql").option("rowsQuery", "true")
      .load()
    assert(df.schema.fieldNames.last == CdcSchema.QueryCol)
    assert(df.schema(CdcSchema.QueryCol).nullable)
    val got = df.select("id", CdcSchema.QueryCol).collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getString(1)))
      .toSeq.sortBy(_._1)
    assert(got == Seq((1L, "INSERT INTO t VALUES (1),(2)"),
      (2L, "INSERT INTO t VALUES (1),(2)"), (3L, null)))
    // without the option the schema is unchanged (no __query)
    val off = spark.read.format("binlogcdc")
      .option("indexFile", s"$dir/binlog.index")
      .option("database", "db").option("table", "t")
      .option("binlogFormat", "mysql")
      .load()
    assert(!off.schema.fieldNames.contains(CdcSchema.QueryCol))
    // gcdc has no statement-text wire event: fail loud, not all-null
    val e = intercept[Exception] {
      spark.read.format("binlogcdc")
        .option("indexFile", s"$dir/binlog.index")
        .option("database", "db").option("table", "t")
        .option("rowsQuery", "true")
        .load()
    }
    assert(e.getMessage.contains("rowsQuery"), e.getMessage)
    // streaming rides the same reader: __query flows through micro-batches
    val ckpt = Files.createTempDirectory("rq-ckpt").toString
    val outDir = Files.createTempDirectory("rq-out").toString
    val q = spark.readStream.format("binlogcdc")
      .option("indexFile", s"$dir/binlog.index")
      .option("database", "db").option("table", "t")
      .option("binlogFormat", "mysql").option("rowsQuery", "true")
      .load()
      .select("id", CdcSchema.QueryCol)
      .writeStream.format("parquet")
      .option("path", outDir).option("checkpointLocation", ckpt)
      .outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.read.parquet(outDir).collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getString(1)))
      .toSeq.sortBy(_._1)
    assert(streamed == got, "streaming __query must equal the batch read")
  }

  test("compressed transactions: schema inference sees payload-inner TABLE_MAPs") {
    // a real mysqld with txn compression emits EVERY TABLE_MAP inside
    // payload events — no outer one exists to infer from
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("name", StringType)))
    val dir = tmpDir()
    val path = s"$dir/mysql-bin.000001"
    val w = new MysqlBinlog.Writer(path, checksum = true, compressTxns = true)
    (0 until 3).foreach { g =>
      w.gtid(1000L + g, g.toLong, Sid) // txn FIRST: tableMap lands inner
      w.tableMap(1000L + g, 9L, "db", "t", schema)
      w.writeRows(1000L + g, 9L, schema, Seq(Array[Any](g.toLong, s"n$g")))
    }
    w.close()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "binlog.index"), "mysql-bin.000001\n")
    val inferred = MysqlBinlog.inferSourceSchema(s"$dir/binlog.index", "db", "t")
    assert(inferred.map(_.map(_.dataType)) == Some(Seq(LongType, StringType)))
    val df = spark.read.format("binlogcdc")
      .option("indexFile", s"$dir/binlog.index")
      .option("database", "db").option("table", "t")
      .option("binlogFormat", "mysql").load()
    assert(df.count() == 3)
    assert(df.select("name").orderBy("id").collect().map(_.getString(0)).toSeq
      == Seq("n0", "n1", "n2"))
  }

  test("compressed transactions: TLV tolerance and fail-loud bounds") {
    import graft.cdc.CdcCodec.RawEvent
    def dec(payload: Array[Byte]): Seq[graft.cdc.CdcCodec.CdcRow] =
      MysqlBinlogAdapter.decoder("db", "t", _ => true, None)
        .decode(RawEvent(MysqlBinlog.EventType.TransactionPayload,
          0L, payload, 0L, payload.length.toLong))
    // uncompressed payload (compression type NONE) with an unknown
    // leading TLV field: both must be tolerated; the inner stream is
    // one empty-body XID event → zero rows, no exception
    val xid = Array[Byte](0, 0, 0, 0, MysqlBinlog.EventType.Xid,
      1, 0, 0, 0, 27, 0, 0, 0, 0, 0, 0, 0, 0, 0, /* body: */ 1, 2, 3, 4, 5, 6, 7, 8)
    val payload = Array[Byte](
      9, 1, 42, // unknown field type 9, len 1
      2, 1, -1, // compression type = 255 (NONE)
      0) ++ xid // end mark, then inner stream
    assert(dec(payload).isEmpty)
    // a zstd payload whose declared uncompressed size is absurd fails
    // loud instead of allocating it
    val huge = Array[Byte](2, 1, 0, // ZSTD
      3, 9, -2, -1, -1, -1, -1, -1, -1, -1, 127, // lenenc 8-byte size: huge
      0) ++ Array[Byte](1, 2, 3)
    val err = intercept[java.io.IOException] { dec(huge) }
    assert(err.getMessage.contains("bad uncompressed size"))
    // nested payload events are rejected
    val nested = Array[Byte](2, 1, -1, 0, // NONE, end mark
      0, 0, 0, 0, MysqlBinlog.EventType.TransactionPayload,
      1, 0, 0, 0, 19, 0, 0, 0, 0, 0, 0, 0, 0, 0)
    val err2 = intercept[java.io.IOException] { dec(nested) }
    assert(err2.getMessage.contains("nested payload"))
  }

  test("DSv2: compressed-transaction mysql log scans + streams like the plain one") {
    import org.apache.spark.sql.functions._
    val sfDir = "/root/testdata/sf0.001"
    val plainIdx = graft.cdc.CdcFixture.ensureMysql(spark, sfDir)
    val zstdIdx = graft.cdc.CdcFixture.ensureMysqlZstd(spark, sfDir)
    def scan(idx: String) = spark.read.format("binlogcdc")
      .option("indexFile", idx)
      .option("database", graft.cdc.CdcFixture.Db)
      .option("table", graft.cdc.CdcFixture.Table)
      .option("binlogFormat", "mysql").load()
    val a = scan(plainIdx)
    val b = scan(zstdIdx)
    assert(a.schema == b.schema)
    assert(b.except(a).isEmpty && a.except(b).isEmpty)
    // envelope pushdown still reaches the source over compressed bytes
    val ups = b.filter(col(CdcSchema.OpCol) === CdcSchema.Op.UpdateAfter).count()
    assert(ups == a.filter(col(CdcSchema.OpCol) === CdcSchema.Op.UpdateAfter).count())
    // and the streaming path drains the same rows (admission/offset
    // slicing is outer-event-granular, so payloads are never split)
    val name = "zstd_stream_" + java.lang.Integer.toHexString(zstdIdx.hashCode)
    val q = spark.readStream.format("binlogcdc")
      .option("indexFile", zstdIdx)
      .option("database", graft.cdc.CdcFixture.Db)
      .option("table", graft.cdc.CdcFixture.Table)
      .option("binlogFormat", "mysql")
      .option("maxBytesPerTrigger", "65536")
      .load()
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table(name)
    assert(streamed.count() == a.count())
    assert(streamed.except(a).isEmpty && a.except(streamed).isEmpty)
  }

  test("SIGNEDNESS: unsigned columns widen and round-trip their extremes") {
    val schema = StructType(Seq(
      StructField("k", LongType), // signed, interleaved with unsigned
      StructField("u8", ShortType), StructField("u16", IntegerType),
      StructField("u32", LongType), StructField("u64", DecimalType(20, 0)),
      StructField("s32", IntegerType))) // signed numeric AFTER unsigned ones
    def u64(s: String) = new java.math.BigDecimal(s)
    val rows = Seq(
      Array[Any](1L, 0.toShort, 0, 0L, u64("0"), -5),
      Array[Any](2L, 255.toShort, 65535, 4294967295L,
        u64("18446744073709551615"), Int.MinValue),
      Array[Any](3L, 128.toShort, 32768, 2147483648L,
        u64("9223372036854775808"), 7), // each narrow type's sign boundary
      Array[Any](4L, 9.toShort, null, 17L, u64("12345678901234567890"), 0))
    val dir = tmpDir()
    val path = s"$dir/mysql-bin.000001"
    val w = new MysqlBinlog.Writer(path, checksum = true,
      unsignedCols = Set("u8", "u16", "u32", "u64"))
    w.tableMap(1000L, 5L, "db", "t", schema)
    w.gtid(1000L, 1L, Sid)
    w.writeRows(1000L, 5L, schema, rows)
    w.close()
    val got = decodeAll(path, "db", "t")
    assert(got.length == 4)
    rows.zip(got).foreach { case (exp, r) =>
      assert(r.values(0) == exp(0) && r.values(1) == exp(1)
        && r.values(2) == exp(2) && r.values(3) == exp(3)
        && r.values(5) == exp(5))
      (exp(4), r.values(4)) match {
        case (e: java.math.BigDecimal, g: org.apache.spark.sql.types.Decimal) =>
          assert(g.toJavaBigDecimal.compareTo(e) == 0, s"u64: $e decoded as $g")
        case other => fail(s"unexpected u64 shapes: $other")
      }
    }
    // the TABLE_MAP round-trips the widened schema (SIGNEDNESS-aware)
    val r = MysqlBinlogAdapter.open(path)
    val tmEv = Iterator.continually(r.next())
      .find(_.tpe == MysqlBinlog.EventType.TableMap).get
    r.close()
    val tm = MysqlBinlog.parseTableMap(tmEv.payload)
    assert(tm.sparkSchema(i => s"_c$i").map(_.dataType) ==
      Seq(LongType, ShortType, IntegerType, LongType, DecimalType(20, 0),
        IntegerType))
    assert(tm.unsigned.toSeq == Seq(false, true, true, true, true, false))
    // out-of-range writes fail loud instead of wrapping
    val w2 = new MysqlBinlog.Writer(s"$dir/bad.000001",
      unsignedCols = Set("u8"))
    w2.tableMap(0L, 5L, "db", "t", schema)
    w2.gtid(0L, 1L, Sid)
    intercept[IllegalArgumentException] {
      w2.writeRows(0L, 5L, schema,
        Seq(Array[Any](1L, 256.toShort, 0, 0L, u64("0"), 0)))
    }
    w2.close()
  }

  test("CHAR: folded-length TABLE_MAP metadata and values round-trip") {
    // declared byte lengths straddling the high-bit fold: <=255 keeps
    // the type byte verbatim; 256..1023 complements the length's bits
    // 8-9 into type-byte bits 4-5
    val schema = StructType(Seq(StructField("k", LongType),
      StructField("c1", StringType), StructField("c255", StringType),
      StructField("c300", StringType), StructField("c1020", StringType),
      StructField("v", StringType))) // a VARCHAR alongside, undisturbed
    val chars = Map("c1" -> 1, "c255" -> 255, "c300" -> 300, "c1020" -> 1020)
    val dir = tmpDir()
    val path = s"$dir/mysql-bin.000001"
    val w = new MysqlBinlog.Writer(path, checksum = true, charCols = chars)
    w.tableMap(0L, 5L, "db", "t", schema)
    w.gtid(0L, 1L, Sid)
    w.writeRows(0L, 5L, schema, Seq(
      Array[Any](1L, "A", "x" * 255, "y" * 300, "z" * 1020, "var"),
      Array[Any](2L, "B", "s", null, "t", "var2")))
    w.close()
    val rows = decodeAll(path, "db", "t")
    assert(rows.length == 2)
    assert(rows.head.values(1) == UTF8String.fromString("A"))
    assert(rows.head.values(2) == UTF8String.fromString("x" * 255))
    assert(rows.head.values(3) == UTF8String.fromString("y" * 300))
    assert(rows.head.values(4) == UTF8String.fromString("z" * 1020))
    assert(rows(1).values(3) == null)
    // the parsed TABLE_MAP recovers the exact declared lengths
    val r = MysqlBinlogAdapter.open(path)
    val tmEv = Iterator.continually(r.next())
      .find(_.tpe == MysqlBinlog.EventType.TableMap).get
    r.close()
    val tm = MysqlBinlog.parseTableMap(tmEv.payload)
    assert(tm.colTypes.toSeq == Seq(MysqlBinlog.ColType.LongLong,
      254, 254, 254, 254, MysqlBinlog.ColType.Varchar))
    assert(tm.colMeta.slice(1, 5).toSeq == Seq(1, 255, 300, 1020))
    // over-length write fails loud
    intercept[IllegalArgumentException] {
      val w2 = new MysqlBinlog.Writer(s"$dir/bad.000001", charCols = chars)
      w2.tableMap(0L, 5L, "db", "t", schema)
      w2.gtid(0L, 1L, Sid)
      w2.writeRows(0L, 5L, schema,
        Seq(Array[Any](1L, "AB", "s", "s", "s", "v")))
    }
  }

  test("CRC32 checksums verify and strip; corruption fails loud") {
    val dir = tmpDir()
    val path = s"$dir/mysql-bin.000001"
    val schema = StructType(Seq(StructField("id", LongType), StructField("s", StringType)))
    val w = new MysqlBinlog.Writer(path, checksum = true)
    w.tableMap(1000L, 1L, "db", "t", schema)
    w.gtid(1000L, 1L, Sid)
    w.writeRows(1000L, 1L, schema, Seq(Array[Any](1L, "a"), Array[Any](2L, "b")))
    w.close()

    val rows = decodeAll(path, "db", "t")
    assert(rows.map(_.values(0)) == Seq(1L, 2L))

    // flip one payload byte near the end of the file -> CRC mismatch
    val raf = new java.io.RandomAccessFile(path, "rw")
    try {
      raf.seek(raf.length() - 10)
      val b = raf.read(); raf.seek(raf.length() - 10); raf.write(b ^ 0x01)
    } finally raf.close()
    val ex = intercept[Exception] {
      decodeAll(path, "db", "t")
    }
    assert(ex.getMessage.contains("CRC32 mismatch"))
  }

  test("varchar 1-byte vs 2-byte length prefixes (declared max length)") {
    val dir = tmpDir()
    val path = s"$dir/mysql-bin.000001"
    val schema = StructType(Seq(
      StructField("short_v", StringType), StructField("long_v", StringType)))
    val w = new MysqlBinlog.Writer(path,
      varcharMeta = { case "short_v" => 100; case _ => 65535 })
    w.tableMap(0L, 1L, "db", "t", schema)
    w.gtid(0L, 1L, Sid)
    val big = "x" * 700 // forces the 2-byte path for long_v
    w.writeRows(0L, 1L, schema, Seq(Array[Any]("ab", big)))
    w.close()
    val rows = decodeAll(path, "db", "t")
    assert(rows.head.values(0) == UTF8String.fromString("ab"))
    assert(rows.head.values(1) == UTF8String.fromString(big))
  }

  test("column pruning mask skips bytes without corrupting later columns") {
    val dir = tmpDir()
    val path = s"$dir/mysql-bin.000001"
    val w = new MysqlBinlog.Writer(path)
    w.tableMap(0L, 1L, "db", "t", wideSchema)
    w.gtid(0L, 1L, Sid)
    w.writeRows(0L, 1L, wideSchema, Seq(wideRow(5)))
    w.close()
    // keep only the last column: everything before must byte-skip cleanly
    val last = wideSchema.length - 1
    val rows = decodeAll(path, "db", "t", needed = _ == last)
    assert(rows.head.values(last) == org.apache.spark.sql.types.Decimal(
      java.math.BigDecimal.valueOf(525, 2), 12, 2))
    assert(rows.head.values(0) == null) // pruned, not decoded
    // and keep only the NTZ column: the decimal tail is never touched
    val ntz = wideSchema.fieldIndex("c_ntz")
    val rows2 = decodeAll(path, "db", "t", needed = _ == ntz)
    assert(rows2.head.values(ntz) == 1704067200000000L + 5000000L + 123456L)
  }

  test("interleaved tables: per-table-id TABLE_MAP registry isolates decode") {
    val dir = tmpDir()
    val path = s"$dir/mysql-bin.000001"
    val sa = StructType(Seq(StructField("id", LongType)))
    val sb = StructType(Seq(StructField("x", StringType), StructField("y", IntegerType)))
    val w = new MysqlBinlog.Writer(path)
    w.tableMap(0L, 1L, "db", "a", sa)
    w.tableMap(0L, 2L, "db", "b", sb)
    w.gtid(0L, 1L, Sid)
    w.writeRows(0L, 1L, sa, Seq(Array[Any](10L)))
    w.writeRows(0L, 2L, sb, Seq(Array[Any]("z", 3)))
    w.gtid(1000L, 2L, Sid)
    w.writeRows(1000L, 1L, sa, Seq(Array[Any](20L)))
    w.close()
    val aRows = decodeAll(path, "db", "a")
    assert(aRows.map(_.values(0)) == Seq(10L, 20L))
    val bRows = decodeAll(path, "db", "b")
    assert(bRows.map(_.values(0)) == Seq(UTF8String.fromString("z")))
  }

  test("torn tail: lastCompleteOffset snaps to the last whole event") {
    val dir = tmpDir()
    val path = s"$dir/mysql-bin.000001"
    val schema = StructType(Seq(StructField("id", LongType)))
    val w = new MysqlBinlog.Writer(path)
    w.tableMap(0L, 1L, "db", "t", schema)
    w.gtid(0L, 1L, Sid)
    w.writeRows(0L, 1L, schema, Seq(Array[Any](1L)))
    w.gtid(1000L, 2L, Sid)
    w.writeRows(1000L, 1L, schema, Seq(Array[Any](2L)))
    w.close()
    val whole = MysqlBinlog.lastCompleteOffset(path)
    assert(whole == new java.io.File(path).length())
    // truncate into the LAST event: boundary must snap back to the
    // previous whole event, and the torn event must never be emitted
    val raf = new java.io.RandomAccessFile(path, "rw")
    try raf.setLength(raf.length() - 5) finally raf.close()
    val snapped = MysqlBinlog.lastCompleteOffset(path)
    assert(snapped < whole)
    // the torn file still decodes its complete prefix without crashing:
    // only the first row survives (the second writeRows is torn)
    val rows = decodeAll(path, "db", "t")
    assert(rows.map(_.gtid) == Seq(1L))
    assert(rows.map(_.values(0)) == Seq(1L))
  }

  // ------------------------------------------------------- DSv2 end-to-end

  /** Same logical content written through both formats. */
  private def writeBoth(): (String, String) = {
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("v", DoubleType),
      StructField("s", StringType)))
    def r(id: Long, v: Double, s: String): Array[Any] = Array[Any](id, v, s)
    def story(w: graft.cdc.FixtureSink): Unit = {
      w.tableMap(0L, 1L, "db", "t", schema)
      w.gtid(1000L, 1L, Sid)
      w.writeRows(1000L, 1L, schema, Seq(r(1, 1.0, "a"), r(2, 2.0, "b")))
      w.gtid(2000L, 2L, Sid)
      w.updateRows(2000L, 1L, schema, Seq((r(2, 2.0, "b"), r(2, 22.0, "b2"))))
      w.gtid(3000L, 3L, Sid)
      w.deleteRows(3000L, 1L, schema, Seq(r(1, 1.0, "a")))
      w.gtid(4000L, 4L, Sid)
      w.writeRows(4000L, 1L, schema, Seq(r(3, 3.0, null)))
      w.close()
    }
    val gdir = tmpDir(); val mdir = tmpDir()
    story(new CdcCodec.LogWriter(s"$gdir/b.0"))
    story(new MysqlBinlog.Writer(s"$mdir/mysql-bin.000001", checksum = true))
    Files.writeString(Paths.get(gdir, "binlog.index"), "b.0\n")
    Files.writeString(Paths.get(mdir, "binlog.index"), "mysql-bin.000001\n")
    (s"$gdir/binlog.index", s"$mdir/binlog.index")
  }

  private def readFmt(index: String, format: String) =
    spark.read.format("binlogcdc")
      .option("indexFile", index).option("database", "db").option("table", "t")
      .option("binlogFormat", format)
      .load()

  test("DSv2: mysql-format scan equals gcdc-format scan (schema + rows)") {
    val (gIdx, mIdx) = writeBoth()
    val g = readFmt(gIdx, "gcdc")
    val m = readFmt(mIdx, "mysql")
    assert(m.schema == g.schema) // inference via FULL-metadata column names
    val gr = g.orderBy("__gtid", "__op", "id").collect().toSeq
    val mr = m.orderBy("__gtid", "__op", "id").collect().toSeq
    assert(mr == gr)
    assert(mr.length == 6) // 3 ins + 2 upd images + 1 del
  }

  test("DSv2: envelope filter pushdown + column pruning through the mysql decoder") {
    val (_, mIdx) = writeBoth()
    val m = readFmt(mIdx, "mysql")
    val filtered = m.filter(col("__op") === 1 && col("__gtid") >= 4L)
      .select("id", "v")
    assert(filtered.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
      Seq((3L, 3.0)))
    // pushed filters visible in the plan (honest: envelope-only)
    val plan = filtered.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") || plan.contains("binlogcdc"))
  }

  test("DSv2: mysql-format streaming equals batch (memory sink drain)") {
    val (_, mIdx) = writeBoth()
    val name = "mysql_stream_" + java.lang.Integer.toHexString(mIdx.hashCode)
    val stream = spark.readStream.format("binlogcdc")
      .option("indexFile", mIdx).option("database", "db").option("table", "t")
      .option("binlogFormat", "mysql")
      .load()
    val q = stream.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table(name).orderBy("__gtid", "__op", "id").collect().toSeq
    val batch = readFmt(mIdx, "mysql").orderBy("__gtid", "__op", "id").collect().toSeq
    assert(streamed == batch)
  }

  test("DSv2: mysql-format admission control (maxBytesPerTrigger) splits batches, no loss") {
    val (_, mIdx) = writeBoth()
    val name = "mysql_admit_" + java.lang.Integer.toHexString(mIdx.hashCode)
    val stream = spark.readStream.format("binlogcdc")
      .option("indexFile", mIdx).option("database", "db").option("table", "t")
      .option("binlogFormat", "mysql")
      .option("maxBytesPerTrigger", "200") // forces multiple micro-batches
      .load()
    val q = stream.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table(name).orderBy("__gtid", "__op", "id").collect().toSeq
    val batch = readFmt(mIdx, "mysql").orderBy("__gtid", "__op", "id").collect().toSeq
    assert(streamed == batch,
      "byte-budgeted micro-batches must reassemble the exact batch result")
  }

  /** Two closed binlogs of `txns` transactions each (BEGIN, TABLE_MAP,
    * one `rowsPerTxn`-row WRITE_ROWS, XID) for db.t(id, s), ids
    * 1..2 × txns × rowsPerTxn in log order; returns the index path. */
  private def twoFileLog(txns: Int, rowsPerTxn: Int): String = {
    val dir = tmpDir()
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("s", StringType)))
    var gno = 0L
    Seq("mysql-bin.000001", "mysql-bin.000002").foreach { name =>
      val w = new MysqlBinlog.Writer(s"$dir/$name", checksum = true)
      (0 until txns).foreach { _ =>
        gno += 1
        val ts = gno * 1000L
        w.gtid(ts, gno, Sid)
        w.query(ts, "db", "BEGIN")
        w.tableMap(ts, 1L, "db", "t", schema)
        w.writeRows(ts, 1L, schema, (1 to rowsPerTxn).map { i =>
          val id = (gno - 1) * rowsPerTxn + i
          Array[Any](id, s"row-$id")
        })
        w.xid(ts, gno)
      }
      w.close()
    }
    Files.writeString(Paths.get(dir, "binlog.index"),
      "mysql-bin.000001\nmysql-bin.000002\n")
    s"$dir/binlog.index"
  }

  test("maxBytesPerTrigger: a micro-batch never plans more than its budget across a file boundary") {
    import graft.sources.{CdcInputPartition, CdcMicroBatchStream, CdcOffset}
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    // ~99 KB per file: an event that does not fit must END the batch —
    // admitting the next file's small control events past it would make
    // planning span the whole first file, refused bytes included
    val index = twoFileLog(txns = 165, rowsPerTxn = 20)
    val files = CdcCodec.readIndex(index)
    val sizes = files.map(f => new java.io.File(f).length)
    assert(sizes.forall(_ > 90000L), sizes)
    val largest = files.map { f =>
      val r = MysqlBinlogAdapter.open(f)
      try r.map(ev => ev.endPos - ev.pos).max finally r.close()
    }.max
    val env = CdcSchema.withEnvelope(StructType(Seq(
      StructField("id", LongType), StructField("s", StringType))))
    def stream(budget: Long) = new CdcMicroBatchStream(index, "db", "t",
      env, env, Array.empty, maxBytesPerTrigger = Some(budget), format = "mysql")
    def span(s: CdcMicroBatchStream, from: CdcOffset, to: CdcOffset): Long =
      s.planInputPartitions(from, to).map {
        case p: CdcInputPartition => p.endPos - p.startPos
      }.sum
    val over = (150L to 30000L by 13L).flatMap { budget =>
      val s = stream(budget)
      val start = s.initialOffset().asInstanceOf[CdcOffset]
      val end = s.latestOffset(start, ReadLimit.allAvailable()).asInstanceOf[CdcOffset]
      val planned = span(s, start, end)
      if (planned > math.max(budget, largest)) Some(budget -> planned) else None
    }
    assert(over.length == 0, s"budgets planned past max(budget, " +
      s"$largest B largest event); first: ${over.take(5)}")
    // draining batch by batch still delivers every row exactly once
    val want = (1L to 2L * 165 * 20).toSeq
    Seq(150L, 514L, 4096L, 30000L).foreach { budget =>
      val s = stream(budget)
      val frontier = s.latestOffset().asInstanceOf[CdcOffset]
      var at = s.initialOffset().asInstanceOf[CdcOffset]
      val ids = scala.collection.mutable.ArrayBuffer.empty[Long]
      while (at != frontier) {
        val end = s.latestOffset(at, ReadLimit.allAvailable()).asInstanceOf[CdcOffset]
        assert(end != at, s"budget $budget: no progress at $at")
        s.planInputPartitions(at, end).foreach { p =>
          val r = s.createReaderFactory().createReader(p)
          try while (r.next()) ids += r.get().getLong(0) finally r.close()
        }
        at = end
      }
      assert(ids.toSeq == want, s"budget $budget: rows lost, duplicated or reordered")
    }
  }

  test("DSv2: a mysql-format scan ignores gcdc sidecars (no aggregate or OFFSET pushdown)") {
    // a v2 .meta beside each binlog claims 999 rows of db.t: it is not
    // this format's metadata, so COUNT(*), MAX(__gtid) and OFFSET must
    // come from the decoded log (10 rows, gtids 1..10), never from it
    val index = twoFileLog(txns = 5, rowsPerTxn = 1)
    CdcCodec.readIndex(index).foreach { f =>
      Files.writeString(Paths.get(f + ".meta"),
        "v2 1 999 0 999000\nc db t 999 1 999 0 999000\n")
    }
    def plan(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.executedPlan.toString
    val counted = readFmt(index, "mysql").agg(count(lit(1)))
    assert(counted.head().getLong(0) == 10L)
    assert(!plan(counted).contains("PushedAggregates"), plan(counted))
    val hwm = readFmt(index, "mysql").agg(max(col("__gtid")))
    assert(hwm.head().getLong(0) == 10L)
    assert(!plan(hwm).contains("PushedAggregates"), plan(hwm))
    val all = readFmt(index, "mysql").collect().map(_.getLong(0)).toSeq
    assert(all == (1L to 10L))
    val off = readFmt(index, "mysql").offset(3)
    assert(off.collect().map(_.getLong(0)).toSeq == all.drop(3))
    assert(!plan(off).contains("PushedOffset"), plan(off))
  }

  test("schemaDrift=epochs on mysql: name-matched remap spans a permuting ALTER") {
    // epoch 1 (id, v); epoch 2 REORDERS and extends: (v, id, x) — new
    // table id like mysqld assigns after DDL. Reading with epochs
    // against the newest schema, epoch-1 rows must land values by NAME
    // (a positional decode would read id's bytes into v)
    val dir = tmpDir()
    val path = s"$dir/mysql-bin.000001"
    val s1 = StructType(Seq(StructField("id", LongType), StructField("v", DoubleType)))
    val s2 = StructType(Seq(StructField("v", DoubleType),
      StructField("id", LongType), StructField("x", IntegerType)))
    val w = new MysqlBinlog.Writer(path)
    w.tableMap(0L, 1L, "db", "t", s1)
    w.gtid(0L, 1L, Sid)
    w.writeRows(0L, 1L, s1, Seq(Array[Any](7L, 1.5)))
    w.tableMap(1000L, 2L, "db", "t", s2)
    w.gtid(1000L, 2L, Sid)
    w.writeRows(1000L, 2L, s2, Seq(Array[Any](2.5, 8L, 42)))
    w.close()
    Files.writeString(Paths.get(dir, "binlog.index"), "mysql-bin.000001\n")
    val rows = spark.read.format("binlogcdc")
      .option("indexFile", s"$dir/binlog.index")
      .option("database", "db").option("table", "t")
      .option("binlogFormat", "mysql").option("schemaDrift", "epochs")
      .load()
      .select("v", "id", "x", "__gtid")
      .collect().map(r => (r.getDouble(0), r.getLong(1),
        if (r.isNullAt(2)) null else r.getInt(2), r.getLong(3)))
      .toSeq.sortBy(_._4)
    assert(rows == Seq((1.5, 7L, null, 1L), (2.5, 8L, 42, 2L)), rows.toString)
  }

  test("schemaDrift=epochs on mariadb: the shared epoch machinery spans the fork") {
    // the epoch plan is name-matched off TABLE_MAP metadata, which the
    // fork logs identically — one drift policy across all formats by
    // construction, spot-checked here through the mariadb adapter
    val dir = tmpDir()
    val path = s"$dir/maria-bin.000001"
    val s1 = StructType(Seq(StructField("id", LongType), StructField("v", DoubleType)))
    val s2 = StructType(Seq(StructField("v", DoubleType),
      StructField("id", LongType), StructField("x", IntegerType)))
    val w = new MysqlBinlog.Writer(path, maria = true)
    w.gtidList(Nil)
    w.gtidMaria(0L, 1L, domain = 0L)
    w.tableMap(0L, 1L, "db", "t", s1)
    w.writeRows(0L, 1L, s1, Seq(Array[Any](7L, 1.5)))
    w.xid(0L, 1L)
    w.gtidMaria(1000L, 2L, domain = 0L)
    w.tableMap(1000L, 2L, "db", "t", s2)
    w.writeRows(1000L, 2L, s2, Seq(Array[Any](2.5, 8L, 42)))
    w.xid(1000L, 2L)
    w.close()
    Files.writeString(Paths.get(dir, "binlog.index"), "maria-bin.000001\n")
    val rows = spark.read.format("binlogcdc")
      .option("indexFile", s"$dir/binlog.index")
      .option("database", "db").option("table", "t")
      .option("binlogFormat", "mariadb").option("schemaDrift", "epochs")
      .load()
      .select("v", "id", "x", "__gtid")
      .collect().map(r => (r.getDouble(0), r.getLong(1),
        if (r.isNullAt(2)) null else r.getInt(2), r.getLong(3)))
      .toSeq.sortBy(_._4)
    assert(rows == Seq((1.5, 7L, null, 1L), (2.5, 8L, 42, 2L)), rows.toString)
  }

  test("schemaDrift=epochs on mysql: streaming reads span the ALTER too") {
    // same permuting-ALTER log as the batch test, consumed as a stream:
    // the micro-batch reader factory threads driftEpochs through the
    // same decoder, so the streamed rows must equal the batch read
    val dir = tmpDir()
    val path = s"$dir/mysql-bin.000001"
    val s1 = StructType(Seq(StructField("id", LongType), StructField("v", DoubleType)))
    val s2 = StructType(Seq(StructField("v", DoubleType),
      StructField("id", LongType), StructField("x", IntegerType)))
    val w = new MysqlBinlog.Writer(path)
    w.tableMap(0L, 1L, "db", "t", s1)
    w.gtid(0L, 1L, Sid)
    w.writeRows(0L, 1L, s1, Seq(Array[Any](7L, 1.5)))
    w.tableMap(1000L, 2L, "db", "t", s2)
    w.gtid(1000L, 2L, Sid)
    w.writeRows(1000L, 2L, s2, Seq(Array[Any](2.5, 8L, 42)))
    w.close()
    Files.writeString(Paths.get(dir, "binlog.index"), "mysql-bin.000001\n")
    val stream = spark.readStream.format("binlogcdc")
      .option("indexFile", s"$dir/binlog.index")
      .option("database", "db").option("table", "t")
      .option("binlogFormat", "mysql").option("schemaDrift", "epochs")
      .load()
    val q = stream.writeStream.format("memory").queryName("mydrift_stream")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("mydrift_stream")
      .select("v", "id", "x", "__gtid").orderBy("__gtid")
      .collect().toSeq
    val batch = spark.read.format("binlogcdc")
      .option("indexFile", s"$dir/binlog.index")
      .option("database", "db").option("table", "t")
      .option("binlogFormat", "mysql").option("schemaDrift", "epochs")
      .load()
      .select("v", "id", "x", "__gtid").orderBy("__gtid")
      .collect().toSeq
    assert(streamed.nonEmpty && streamed == batch,
      s"streamed $streamed != batch $batch")
  }

  test("schemaDrift=epochs on a MINIMAL-metadata mysql log fails loud at the drift") {
    // no names on the wire — the remap has nothing to match by; the
    // failure must say so (not silently decode positionally)
    val dir = tmpDir()
    val path = s"$dir/mysql-bin.000001"
    val s1 = StructType(Seq(StructField("id", LongType)))
    val s2 = StructType(Seq(StructField("x", IntegerType), StructField("id", LongType)))
    val w = new MysqlBinlog.Writer(path, fullMetadata = false)
    w.tableMap(0L, 1L, "db", "t", s1)
    w.gtid(0L, 1L, Sid)
    w.writeRows(0L, 1L, s1, Seq(Array[Any](1L)))
    w.close()
    val ex = intercept[Exception] {
      val dec = MysqlBinlogAdapter.decoder("db", "t", _ => true,
        Some(s2), driftEpochs = true)
      val r = MysqlBinlogAdapter.open(path)
      try while (r.hasNext) dec.decode(r.next()) finally r.close()
    }
    assert(ex.getMessage.contains("binlog_row_metadata=MINIMAL"), ex.getMessage)
  }

  test("additive mysql evolution: ADD COLUMN pads old-epoch rows with null") {
    // pre-ALTER rows are NARROWER than the query schema; projecting the
    // added column must read null, not index past the declared width
    val dir = tmpDir()
    val path = s"$dir/mysql-bin.000001"
    val s1 = StructType(Seq(StructField("id", LongType)))
    val s2 = StructType(Seq(StructField("id", LongType),
      StructField("x", IntegerType)))
    val w = new MysqlBinlog.Writer(path)
    w.tableMap(0L, 1L, "db", "t", s1)
    w.gtid(0L, 1L, Sid)
    w.writeRows(0L, 1L, s1, Seq(Array[Any](1L)))
    w.tableMap(1000L, 2L, "db", "t", s2)
    w.gtid(1000L, 2L, Sid)
    w.writeRows(1000L, 2L, s2, Seq(Array[Any](2L, 42)))
    w.close()
    Files.writeString(Paths.get(dir, "binlog.index"), "mysql-bin.000001\n")
    val rows = spark.read.format("binlogcdc")
      .option("indexFile", s"$dir/binlog.index")
      .option("database", "db").option("table", "t")
      .option("binlogFormat", "mysql")
      .load()
      .select("id", "x", "__gtid")
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) null else r.getInt(1), r.getLong(2)))
      .toSeq.sortBy(_._3)
    assert(rows == Seq((1L, null, 1L), (2L, 42, 2L)), rows.toString)
  }

  test("schema drift in a mysql log fails loud with position context") {
    val dir = tmpDir()
    val path = s"$dir/mysql-bin.000001"
    val s1 = StructType(Seq(StructField("id", LongType)))
    val s2 = StructType(Seq(StructField("id", LongType), StructField("x", IntegerType)))
    val w = new MysqlBinlog.Writer(path)
    w.tableMap(0L, 1L, "db", "t", s2)
    w.gtid(0L, 1L, Sid)
    w.writeRows(0L, 1L, s2, Seq(Array[Any](1L, 2)))
    w.close()
    // expect the OLD (narrower, non-prefix-compatible in reverse) schema
    val ex = intercept[Exception] {
      decodeAll(path, "db", "t", expected = Some(s1))
    }
    assert(ex.getMessage.contains("schema drift"))
  }

  test("MINIMAL row metadata (the production default): explicit schema reads positionally") {
    val dir = tmpDir()
    val path = s"$dir/mysql-bin.000001"
    // `u` is UNSIGNED INT (u32 on the wire, widened LongType surface):
    // mysqld logs the SIGNEDNESS TLV even under MINIMAL (only names,
    // ENUM/SET labels, and PK info are FULL-only), so unsigned decode
    // must work without FULL metadata — value above Int.MaxValue proves
    // the widening actually engaged.
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("v", DoubleType),
      StructField("u", LongType), StructField("s", StringType)))
    val w = new MysqlBinlog.Writer(path, fullMetadata = false,
      unsignedCols = Set("u"))
    w.tableMap(1000L, 1L, "db", "t", schema)
    w.gtid(1000L, 1L, Sid)
    w.writeRows(1000L, 1L, schema, Seq(
      Array[Any](1L, 0.5, 0xfffffffeL, "x"), Array[Any](2L, 1.5, 7L, null)))
    w.close()
    Files.writeString(Paths.get(dir, "binlog.index"), "mysql-bin.000001\n")

    // schema inference needs names -> fail loud with the remedy
    val e = intercept[IllegalArgumentException] {
      spark.read.format("binlogcdc")
        .option("indexFile", s"$dir/binlog.index")
        .option("database", "db").option("table", "t")
        .option("binlogFormat", "mysql").load()
    }
    assert(e.getMessage.contains("MINIMAL"), e.getMessage)

    // explicit schema: decode matches positionally by type
    val df = spark.read.format("binlogcdc")
      .schema(graft.cdc.CdcSchema.withEnvelope(schema))
      .option("indexFile", s"$dir/binlog.index")
      .option("database", "db").option("table", "t")
      .option("binlogFormat", "mysql").load()
    val rows = df.orderBy("id").collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    assert(rows.map(_.getDouble(1)).toSeq == Seq(0.5, 1.5))
    // unsigned u32 decodes to its positive widened value (a signed-int
    // misread would surface -2)
    assert(rows.map(_.getLong(2)).toSeq == Seq(0xfffffffeL, 7L))
    assert(rows(0).getString(3) == "x" && rows(1).isNullAt(3))

    // a WRONG explicit schema (type sequence mismatch) fails loud
    val bad = StructType(Seq(
      StructField("id", LongType), StructField("v", LongType),
      StructField("u", LongType), StructField("s", StringType)))
    val e2 = intercept[Exception] {
      spark.read.format("binlogcdc")
        .schema(graft.cdc.CdcSchema.withEnvelope(bad))
        .option("indexFile", s"$dir/binlog.index")
        .option("database", "db").option("table", "t")
        .option("binlogFormat", "mysql").load().collect()
    }
    assert(e2.getMessage != null)
  }

  test("ENUM/SET: labels under FULL metadata, raw index/bitmask under MINIMAL") {
    val dir = tmpDir()
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("col", StringType), // ENUM('red','green','blue')
      StructField("fl", StringType))) // SET('x','y','z')
    val members = IndexedSeq("red", "green", "blue")
    val flags = IndexedSeq("x", "y", "z")
    def write(path: String, full: Boolean): Unit = {
      val w = new MysqlBinlog.Writer(path, fullMetadata = full,
        enumCols = Map("col" -> members), setCols = Map("fl" -> flags))
      w.tableMap(1000L, 3L, "db", "e", schema)
      w.gtid(1000L, 1L, Sid)
      w.writeRows(1000L, 3L, schema, Seq(
        Array[Any](1L, "red", "x,z"),
        Array[Any](2L, "blue", ""),
        Array[Any](3L, "", "x,y,z"), // "" = mysqld's invalid-value 0 index
        Array[Any](4L, null, null)))
      w.close()
    }
    def u(s: String) = UTF8String.fromString(s)

    val p1 = s"$dir/full.000001"; write(p1, full = true)
    val r1 = decodeAll(p1, "db", "e")
    assert(r1.map(_.values(1)) == Seq(u("red"), u("blue"), u(""), null))
    assert(r1.map(_.values(2)) == Seq(u("x,z"), u(""), u("x,y,z"), null))

    // MINIMAL: the log carries no member lists — the raw 1-based index
    // and bitmask surface (explicit schema, matched positionally)
    val p2 = s"$dir/min.000001"; write(p2, full = false)
    val r2 = decodeAll(p2, "db", "e", expected = Some(StructType(Seq(
      StructField("id", LongType), StructField("col", IntegerType),
      StructField("fl", LongType)))))
    assert(r2.map(_.values(1)) == Seq(1, 3, 0, null))
    assert(r2.map(_.values(2)) == Seq(5L, 0L, 7L, null))

    // writer rejects non-members up front
    val w2 = new MysqlBinlog.Writer(s"$dir/bad.000001",
      enumCols = Map("col" -> members), setCols = Map("fl" -> flags))
    w2.tableMap(1000L, 3L, "db", "e", schema)
    w2.gtid(1000L, 1L, Sid)
    intercept[IllegalArgumentException] {
      w2.writeRows(1000L, 3L, schema, Seq(Array[Any](9L, "mauve", "")))
    }
    intercept[IllegalArgumentException] {
      w2.writeRows(1000L, 3L, schema, Seq(Array[Any](9L, "red", "x,q")))
    }
    w2.close()
  }

  test("ENUM/SET wide member lists: u16 indexes and multi-byte bitmasks") {
    val dir = tmpDir()
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("e", StringType), StructField("s", StringType)))
    val members = (0 until 300).map(i => s"m$i") // 2-byte indexes
    val flags = (0 until 11).map(i => s"f$i") // 2-byte bitmask
    val path = s"$dir/wide.000001"
    val w = new MysqlBinlog.Writer(path,
      enumCols = Map("e" -> members), setCols = Map("s" -> flags))
    w.tableMap(1000L, 3L, "db", "w", schema)
    w.gtid(1000L, 1L, Sid)
    w.writeRows(1000L, 3L, schema, Seq(
      Array[Any](1L, "m299", "f0,f10"),
      Array[Any](2L, "m0", "f9")))
    w.close()
    def u(s: String) = UTF8String.fromString(s)
    val rows = decodeAll(path, "db", "w")
    assert(rows.map(_.values(1)) == Seq(u("m299"), u("m0")))
    assert(rows.map(_.values(2)) == Seq(u("f0,f10"), u("f9")))
  }

  test("YEAR/BIT/TIME2: boundary values round-trip exactly") {
    val dir = tmpDir()
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("yr", ShortType), // YEAR
      StructField("b3", LongType), // BIT(3)
      StructField("b64", LongType), // BIT(64)
      StructField("t", LongType))) // TIME(6), signed micros
    val path = s"$dir/ybt.000001"
    val w = new MysqlBinlog.Writer(path, yearCols = Set("yr"),
      bitCols = Map("b3" -> 3, "b64" -> 64), timeCols = Set("t"))
    w.tableMap(1000L, 3L, "db", "y", schema)
    w.gtid(1000L, 1L, Sid)
    val maxT = (838L * 3600 + 59 * 60 + 59) * 1000000L + 999999L
    w.writeRows(1000L, 3L, schema, Seq(
      Array[Any](1L, 1901.toShort, 5L, -1L, maxT), // all-ones 64-bit mask
      Array[Any](2L, 2155.toShort, 0L, Long.MinValue, -maxT),
      Array[Any](3L, 0.toShort, 7L, 0L, 0L), // YEAR 0000
      Array[Any](4L, 2026.toShort, 1L, 1L, -1L))) // -1 µs: sign on frac only
    w.close()
    val rows = decodeAll(path, "db", "y")
    assert(rows.map(_.values(1)) ==
      Seq(1901.toShort, 2155.toShort, 0.toShort, 2026.toShort))
    assert(rows.map(_.values(2)) == Seq(5L, 0L, 7L, 1L))
    assert(rows.map(_.values(3)) == Seq(-1L, Long.MinValue, 0L, 1L))
    assert(rows.map(_.values(4)) == Seq(maxT, -maxT, 0L, -1L))

    // out-of-range inputs fail loud at write time
    val w2 = new MysqlBinlog.Writer(s"$dir/bad.000001",
      yearCols = Set("yr"), bitCols = Map("b3" -> 3, "b64" -> 64),
      timeCols = Set("t"))
    w2.tableMap(1000L, 3L, "db", "y", schema)
    w2.gtid(1000L, 1L, Sid)
    intercept[IllegalArgumentException] { // 1900 is not a YEAR value
      w2.writeRows(1000L, 3L, schema, Seq(Array[Any](9L, 1900.toShort, 0L, 0L, 0L)))
    }
    intercept[IllegalArgumentException] { // 8 needs 4 bits
      w2.writeRows(1000L, 3L, schema, Seq(Array[Any](9L, 2000.toShort, 8L, 0L, 0L)))
    }
    intercept[IllegalArgumentException] { // past ±838:59:59.999999
      w2.writeRows(1000L, 3L, schema, Seq(Array[Any](9L, 2000.toShort, 0L, 0L, maxT + 1)))
    }
    w2.close()
  }

  test("MEDIUMINT + legacy temporals: boundary values round-trip exactly") {
    val dir = tmpDir()
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("m24", IntegerType), // MEDIUMINT
      StructField("um24", IntegerType), // MEDIUMINT UNSIGNED
      StructField("t", LongType), // legacy TIME, signed micros
      StructField("dt", TimestampNTZType), // legacy DATETIME
      StructField("ts", TimestampType))) // legacy TIMESTAMP
    val path = s"$dir/leg.000001"
    val w = new MysqlBinlog.Writer(path,
      int24Cols = Set("m24", "um24"), unsignedCols = Set("um24"),
      legacyTimeCols = Set("t"), legacyDatetimeCols = Set("dt"),
      legacyTimestampCols = Set("ts"))
    w.tableMap(1000L, 3L, "db", "m", schema)
    w.gtid(1000L, 1L, Sid)
    val maxT = (838L * 3600 + 59 * 60 + 59) * 1000000L
    val dtMicros = 1786665598000000L // 2026-08-13T23:59:58
    w.writeRows(1000L, 3L, schema, Seq(
      Array[Any](1L, -8388608, 0, maxT, dtMicros, 1700000000000000L),
      Array[Any](2L, 8388607, 16777215, -maxT, 0L, 0L),
      Array[Any](3L, -1, 1, 0L, dtMicros, 4294967295000000L)))
    w.close()
    val rows = decodeAll(path, "db", "m")
    assert(rows.map(_.values(1)) == Seq(-8388608, 8388607, -1))
    assert(rows.map(_.values(2)) == Seq(0, 16777215, 1))
    assert(rows.map(_.values(3)) == Seq(maxT, -maxT, 0L))
    assert(rows.map(_.values(4)) == Seq(dtMicros, 0L, dtMicros))
    // legacy TIMESTAMP wire value 0 is the MySQL zero-date -> SQL null
    // (the valid range starts at 00:00:01, so epoch 0 has no encoding)
    assert(rows.map(_.values(5)) ==
      Seq(1700000000000000L, null, 4294967295000000L))

    // out-of-range / unrepresentable inputs fail loud at write time
    val w2 = new MysqlBinlog.Writer(s"$dir/bad.000001",
      int24Cols = Set("m24", "um24"), unsignedCols = Set("um24"),
      legacyTimeCols = Set("t"), legacyDatetimeCols = Set("dt"),
      legacyTimestampCols = Set("ts"))
    w2.tableMap(1000L, 3L, "db", "m", schema)
    w2.gtid(1000L, 1L, Sid)
    def bad(row: Array[Any]): Unit = intercept[IllegalArgumentException] {
      w2.writeRows(1000L, 3L, schema, Seq(row))
    }
    bad(Array[Any](9L, 8388608, 0, 0L, 0L, 0L)) // past MEDIUMINT max
    bad(Array[Any](9L, 0, -1, 0L, 0L, 0L)) // negative unsigned
    bad(Array[Any](9L, 0, 0, 1500L, 0L, 0L)) // fractional legacy TIME
    bad(Array[Any](9L, 0, 0, 0L, 1L, 0L)) // fractional legacy DATETIME
    bad(Array[Any](9L, 0, 0, 0L, 0L, -1000000L)) // pre-1970 legacy TIMESTAMP
    w2.close()
  }

  test("TIME2: every fsp layout round-trips, including negative fractions") {
    // the negative-fraction cases cross the floor-shift/truncated-mod
    // seam of the storage format (intpart++ compensation) — real mysqld
    // TIME columns default to fsp=0, so every branch here is live
    val dir = tmpDir()
    val maxSec = 838L * 3600 + 59 * 60 + 59
    for (fsp <- 0 to 6) {
      val unit = { var v = 1L; (0 until (6 - fsp)).foreach(_ => v *= 10); v }
      val schema = StructType(Seq(
        StructField("id", LongType), StructField("t", LongType)))
      val path = s"$dir/fsp$fsp.000001"
      val w = new MysqlBinlog.Writer(path, timeFsp = Map("t" -> fsp))
      w.tableMap(1000L, 4L, "db", "f", schema)
      w.gtid(1000L, 1L, Sid)
      val vals = Seq(
        maxSec * 1000000L + (if (fsp == 0) 0L else 999999L / unit * unit),
        -(maxSec * 1000000L) - (if (fsp == 0) 0L else 999999L / unit * unit),
        0L,
        if (fsp == 0) 1000000L else unit, // smallest positive step
        if (fsp == 0) -1000000L else -unit, // negative, zero int part
        -3723000000L - (if (fsp == 0) 0L else unit)) // negative with both parts
      w.writeRows(1000L, 4L, schema,
        vals.zipWithIndex.map { case (v, i) => Array[Any](i.toLong, v) })
      w.close()
      val rows = decodeAll(path, "db", "f")
      assert(rows.map(_.values(1)) == vals, s"fsp=$fsp")
    }
  }

  private def hex(s: String): Array[Byte] =
    s.replaceAll("\\s", "").grouped(2)
      .map(java.lang.Integer.parseInt(_, 16).toByte).toArray

  /** Feed hand-authored TABLE_MAP + WRITE_ROWS payload bytes (laid out
    * from the public protocol docs, NOT produced by this repo's Writer)
    * through the decoder — pins the byte layout so Writer/decoder
    * co-drift cannot pass silently. */
  private def goldenRows(tableMapHex: String, rowsHex: String,
      table: String): Seq[CdcCodec.CdcRow] = {
    val dec = MysqlBinlogAdapter.decoder("d", table, _ => true, None)
    // open a transaction: rows with no live GTID identity fail loud
    dec.decode(CdcCodec.RawEvent(MysqlBinlog.EventType.Gtid, 0L,
      hex("01" + "00" * 16 + "0100000000000000"), 0L, 0L))
    dec.decode(CdcCodec.RawEvent(MysqlBinlog.EventType.TableMap, 0L,
      hex(tableMapHex), 0L, 0L))
    dec.decode(CdcCodec.RawEvent(MysqlBinlog.EventType.WriteRowsV2, 1000L,
      hex(rowsHex), 0L, 0L)).toSeq
  }

  test("golden bytes: MEDIUMINT + legacy temporals decode to pinned values") {
    // table d.t: [INT24, TIME, DATETIME, TIMESTAMP, YEAR] — no metadata
    val tm = "210000000000 0100 016400 017400 05 090b0c070d 00 00"
    val rows = goldenRows(tm,
      "210000000000 0000 0200 05 1f" +
        "00 ffffff 590a80 f66693566d120000 00f15365 7e" + // row 1
        "00 ffff7f db2700 0000000000000000 00000000 00", // row 2
      "t")
    assert(rows.map(_.values.toSeq) == Seq(
      Seq(-1, -3020399000000L, 1786665598000000L, 1700000000000000L,
        2026.toShort),
      // legacy TIMESTAMP 0 = the zero-date (range starts 00:00:01) -> null
      Seq(8388607, 3723000000L, null, null, 0.toShort)))
  }

  test("golden bytes: TIME2 fsp storage forms decode to pinned values") {
    // six TIME2 columns at fsp 0,2,2,4,6,6 (meta = fsp byte each)
    val tm = "220000000000 0100 016400 017400 06 131313131313 06 000202040606 00"
    val rows = goldenRows(tm,
      "220000000000 0000 0200 06 3f" +
        "00 4b9105 80108304 7fffffff 7fffffffff 800000000001 4b9104f0bdc1",
      "t")
    assert(rows.map(_.values.toSeq) == Seq(
      Seq(-3020399000000L, 3723040000L, -10000L, -100L, 1L,
        -3020399999999L)))
  }

  test("golden bytes: DATETIME2/TIMESTAMP2/VARCHAR/folded CHAR decode to pinned values") {
    // [DATETIME2 fsp6, TIMESTAMP2 fsp6, VARCHAR(512) (2-byte length
    // prefix), CHAR(300) (folded-length metadata 0xee 0x2c)]
    val tm = "230000000000 0100 016400 017400 04 12110ffe 06 0606 0002 ee2c 00"
    val rows = goldenRows(tm,
      "230000000000 0000 0200 04 0f" +
        "00 99ba9b7efa01e240 6553f100000001 0300616263 040074657374",
      "t")
    assert(rows.map(_.values.toSeq) == Seq(
      Seq(1786665598123456L, 1700000000000001L,
        UTF8String.fromString("abc"), UTF8String.fromString("test"))))
  }

  test("golden bytes: DATETIME2/TIMESTAMP2 odd-fsp fractions decode to pinned values") {
    // [DATETIME2(3), DATETIME2(1), TIMESTAMP2(1), TIMESTAMP2(5)] — the
    // fraction rides in ceil(fsp/2) BE bytes whose unit follows the
    // BYTE count (1 byte = centiseconds, 2 = hundred-µs, 3 = µs), so a
    // digits-based (10^-fsp) decode misreads every odd fsp by 10x.
    // Bytes derived from the documented layouts, not the Writer:
    //   dt3 '2024-01-15 10:30:45.123': ym=2024*13+1, ymd=ym<<5|15,
    //     hms=10<<12|30<<6|45, 5B BE of (ymd<<17|hms)+2^39, then
    //     frac 123000µs/100 = 1230 = 0x04ce in 2 bytes
    //   dt1 '1999-12-31 23:59:59.9': frac byte = 900000µs/10^4 = 90
    //   ts1 1700000000.5: 4B BE seconds + frac byte 500000/10^4 = 50
    //   ts5 1700000000.12345: frac 3 bytes = 123450 µs = 0x01e23a
    val tm = "280000000000 0100 016400 017400 04 12121111 04 03010105 00"
    val rows = goldenRows(tm,
      "280000000000 0000 0200 04 0f" +
        "00 99b25ea7ad04ce 9963ff7efb5a 6553f10032 6553f10001e23a",
      "t")
    assert(rows.map(_.values.toSeq) == Seq(
      Seq(1705314645123000L, 946684799900000L,
        1700000000500000L, 1700000000123450L)))
  }

  test("ANONYMOUS_GTID (gtid_mode=OFF): target rows fail loud, GTID resumes decode") {
    // table d.t = [BIGINT]; d.o = [BIGINT] is an unrelated table
    val dec = MysqlBinlogAdapter.decoder("d", "t", _ => true, None)
    def ev(tpe: Byte, hexBody: String) =
      CdcCodec.RawEvent(tpe, 1000L, hex(hexBody), 42L, 43L)
    dec.decode(ev(MysqlBinlog.EventType.TableMap,
      "150000000000 0100 016400 017400 01 08 00 00"))
    dec.decode(ev(MysqlBinlog.EventType.TableMap,
      "160000000000 0100 016400 016f00 01 08 00 00"))
    val anon = "00" + "00" * 16 + "0000000000000000" // flags + sid + gno
    dec.decode(ev(MysqlBinlog.EventType.AnonymousGtid, anon))
    // another table's rows inside the anonymous txn: ignorable as ever
    assert(dec.decode(ev(MysqlBinlog.EventType.WriteRowsV2,
      "160000000000 0000 0200 01 01 00 0700000000000000")).isEmpty)
    // the TARGET table's rows have no truthful __gtid -> fail loud
    val ex = intercept[java.io.IOException] {
      dec.decode(ev(MysqlBinlog.EventType.WriteRowsV2,
        "150000000000 0000 0200 01 01 00 0700000000000000"))
    }
    assert(ex.getMessage.contains("ANONYMOUS_GTID") &&
      ex.getMessage.contains("gtid_mode"), ex.getMessage)
    // a real GTID event ends the anonymous state; decode resumes
    dec.decode(ev(MysqlBinlog.EventType.Gtid,
      "00" + "11" * 16 + "0500000000000000"))
    val rows = dec.decode(ev(MysqlBinlog.EventType.WriteRowsV2,
      "150000000000 0000 0200 01 01 00 0700000000000000"))
    assert(rows.map(r => (r.values(0), r.gtid)) == Seq((7L, 5L)))
  }

  test("PARTIAL_UPDATE_ROWS: other tables ignorable; unknown value_options fails loud") {
    // binlog_row_value_options=PARTIAL_JSON decodes since round 11 —
    // these pin the boundaries: non-target events stay ignorable, and
    // an after-image with value_options bits this decoder doesn't know
    // fails loud (each bit changes the layout of everything after it)
    val dec = MysqlBinlogAdapter.decoder("d", "t", _ => true, None)
    def ev(tpe: Byte, hexBody: String) =
      CdcCodec.RawEvent(tpe, 1000L, hex(hexBody), 99L, 100L)
    dec.decode(ev(MysqlBinlog.EventType.Gtid,
      "01 11111111222233334444555555555555 0500000000000000"))
    dec.decode(ev(MysqlBinlog.EventType.TableMap,
      "150000000000 0100 016400 017400 01 08 00 00"))
    dec.decode(ev(MysqlBinlog.EventType.TableMap,
      "160000000000 0100 016400 016f00 01 08 00 00"))
    // other table / unknown table id: ignored
    assert(dec.decode(ev(MysqlBinlog.EventType.PartialUpdateRows,
      "160000000000 0000")).isEmpty)
    assert(dec.decode(ev(MysqlBinlog.EventType.PartialUpdateRows,
      "990000000000 0000")).isEmpty)
    // target table, well-formed before image, then value_options=0x02
    // (an option bit this decoder does not understand)
    val ex = intercept[java.io.IOException] {
      dec.decode(ev(MysqlBinlog.EventType.PartialUpdateRows,
        "150000000000 0000 0200 01 01 01" +
          "00 0100000000000000" + // before: nulls, id=1
          "02"))                  // after: unknown value_options bit
    }
    assert(ex.getMessage.contains("value_options"), ex.getMessage)
  }

  test("golden bytes: zero-datetime and zero-in-date values surface as SQL null") {
    // [DATETIME2(0), DATE, legacy DATETIME] — mysqld stores
    // '0000-00-00 00:00:00' as packed 0 (5 bytes 0x8000000000 after the
    // offset), and sql_mode without NO_ZERO_IN_DATE permits month/day 0
    // ('2024-00-15'); none has a LocalDate(Time) form -> SQL null (a
    // naive decode THROWS on the zero-datetime, killing the scan)
    val tm = "2a0000000000 0100 016400 017400 03 120a0c 01 00 00"
    val rows = goldenRows(tm,
      "2a0000000000 0000 0200 03 07" +
        "00 8000000000 0fd00f c081e77e68120000", // zero-dt2, 2024-00-15, 2024-00-15 00:00:00
      "t")
    assert(rows.map(_.values.toSeq) == Seq(Seq(null, null, null)))
  }

  test("golden bytes: MINIMAL row metadata — SIGNEDNESS without COLUMN_NAME") {
    // the binlog_row_metadata=MINIMAL wire shape: mysqld still logs the
    // SIGNEDNESS TLV (only names/labels/PK are FULL-only), so an
    // unsigned INT must widen correctly with no names present
    // [INT unsigned (u32), VARCHAR(20) nullable]
    val tm = "290000000000 0100 016400 017400 02 030f 02 1400 02" +
      "0101 80" // SIGNEDNESS TLV only — no COLUMN_NAME
    val rows = goldenRows(tm,
      "290000000000 0000 0200 02 03" +
        "00 feffffff 026869", // u32 0xfffffffe, "hi"
      "t")
    assert(rows.map(_.values.toSeq) == Seq(
      Seq(4294967294L, UTF8String.fromString("hi"))))
  }

  test("golden bytes: primitive types, DATE (incl. zero-date), VARCHAR-1B, BLOB") {
    // [TINY, SHORT, LONG, LONGLONG, FLOAT(meta 4), DOUBLE(meta 8),
    //  DATE, VARCHAR(20) (1-byte length), BLOB(meta 2)]
    val tm = "270000000000 0100 016400 017400 09" +
      "010203080405 0a0ffc" + // tiny short long longlong float double date varchar blob
      "05" + "04 08 1400 02" + // meta: float 4, double 8, varchar 20 (u16 LE), blob 2
      "0000" // schema null bitmap (9 cols -> 2 bytes)
    val rows = goldenRows(tm,
      "270000000000 0000 0200 09 ff01" +
        // -5, -300, -70000, 2^40+7, 1.5f, -2.25, 2026-08-13, "ho", 0x010203
        "00 00 fb d4fe 90eefeff 0700000000010000 0000c03f 00000000000002c0" +
        " 0dd50f 02686f 0300010203" +
        "00 00 01 0100 01000000 0100000000000000 0000803f 000000000000f03f" +
        " 000000 00 0000", // 1, 1, 1, 1, 1f, 1.0, zero-date -> null, "", empty blob
      "t")
    val r0 = rows(0).values
    assert(r0(0) == (-5).toByte && r0(1) == (-300).toShort && r0(2) == -70000)
    assert(r0(3) == (1L << 40) + 7)
    assert(r0(4) == 1.5f && r0(5) == -2.25)
    assert(r0(6) == 20678) // epoch days of 2026-08-13
    assert(r0(7) == UTF8String.fromString("ho"))
    assert(r0(8).asInstanceOf[Array[Byte]].toSeq == Seq[Byte](1, 2, 3))
    val r1 = rows(1).values
    assert(r1(6) == null, "MySQL zero-date must surface as SQL null")
    assert(r1(7) == UTF8String.fromString("") &&
      r1(8).asInstanceOf[Array[Byte]].isEmpty)
  }

  test("golden bytes: GEOMETRY decodes as opaque SRID+WKB binary") {
    // [BIGINT, GEOMETRY meta=4]; value = u32 length prefix + SRID 4326
    // (LE) + WKB POINT(1 2) — surfaced as the raw 25 payload bytes
    val payload = "e6100000 0101000000 000000000000f03f 0000000000000040"
    val tm = "260000000000 0100 016400 017400 02 08ff 01 04 00"
    val rows = goldenRows(tm,
      "260000000000 0000 0200 02 03" +
        s"00 0700000000000000 19000000 $payload",
      "t")
    assert(rows.head.values(0) == 7L)
    assert(rows.head.values(1).asInstanceOf[Array[Byte]].toSeq ==
      hex(payload).toSeq)
  }

  test("golden bytes: zero-length JSON value decodes as SQL null") {
    // real mysqld emits zero-length values for null JSON documents in
    // some binlog paths — must surface as null, not an IOException
    val tm = "250000000000 0100 016400 017400 02 08f5 01 04 00"
    val rows = goldenRows(tm,
      "250000000000 0000 0200 02 03" +
        "00 0100000000000000 00000000", // id=1, JSON length 0
      "t")
    assert(rows.map(_.values.toSeq) == Seq(Seq(1L, null)))
  }

  test("golden bytes: SIGNEDNESS + ENUM/SET TLV optional metadata decode to pinned values") {
    // table d.t: [INT24 unsigned, ENUM{A,B} pack-1, SET{x,y} pack-1];
    // optional metadata: SIGNEDNESS (type 1) bitmap 0x80 (first numeric
    // col unsigned), ENUM_STR_VALUE (type 6), SET_STR_VALUE (type 5)
    val tm = "240000000000 0100 016400 017400 03 09fefe 04 f701f801 00" +
      "0101 80" + // SIGNEDNESS TLV
      "0605 0201410142" + // ENUM members A,B
      "0505 0201780179" // SET members x,y
    val rows = goldenRows(tm,
      "240000000000 0000 0200 03 07" +
        "00 ffffff 02 03" + // 16777215, enum idx 2 -> B, mask 3 -> x,y
        "00 000000 00 00", // 0, enum idx 0 -> '', empty set
      "t")
    assert(rows.map(_.values.toSeq) == Seq(
      Seq(16777215, UTF8String.fromString("B"), UTF8String.fromString("x,y")),
      Seq(0, UTF8String.fromString(""), UTF8String.fromString(""))))
  }

  test("PREVIOUS_GTIDS: interval subtraction and per-file bounds derivation") {
    import MysqlBinlog.subtractIntervals
    assert(subtractIntervals(Seq((1L, 21L)), Seq((1L, 11L))) == Seq((11L, 21L)))
    assert(subtractIntervals(Seq((1L, 31L)), Seq((1L, 11L), (21L, 26L))) ==
      Seq((11L, 21L), (26L, 31L)))
    assert(subtractIntervals(Seq((5L, 10L)), Seq((20L, 30L))) == Seq((5L, 10L)))
    assert(subtractIntervals(Seq((5L, 10L)), Seq((0L, 30L))) == Nil)
    assert(subtractIntervals(Nil, Seq((1L, 5L))) == Nil)
  }

  test("interval subtraction: merge form matches per-point set difference " +
      "on randomized sorted disjoint inputs (r17 linear-merge rewrite)") {
    import MysqlBinlog.subtractIntervals
    val rnd = new scala.util.Random(42)
    // sorted disjoint [start, end) list over a small domain
    def genIvs(): Seq[(Long, Long)] = {
      var at = rnd.nextInt(5).toLong
      val out = Seq.newBuilder[(Long, Long)]
      while (at < 80) {
        val s = at + rnd.nextInt(4)
        val e = s + 1 + rnd.nextInt(6)
        if (e <= 80) out += ((s, e))
        at = e + 1 + rnd.nextInt(3)
      }
      out.result()
    }
    def points(ivs: Seq[(Long, Long)]): Set[Long] =
      ivs.flatMap { case (s, e) => s until e }.toSet
    (1 to 500).foreach { _ =>
      val a = genIvs(); val b = genIvs()
      val got = subtractIntervals(a, b)
      // result must be sorted, disjoint, and cover exactly a-points \ b-points
      assert(points(got) == (points(a) -- points(b)), s"a=$a b=$b got=$got")
      got.sliding(2).foreach {
        case Seq((_, e1), (s2, _)) => assert(e1 <= s2, s"unsorted: $got")
        case _ =>
      }
      assert(got.forall { case (s, e) => s < e })
    }
  }

  test("PREVIOUS_GTIDS file pruning: gtid-range scans skip whole files — soundly") {
    val dir = tmpDir()
    val schema = StructType(Seq(StructField("id", LongType)))
    // three files: gnos 1-10, 11-20, 21-30; each declares the set
    // executed before it, exactly as mysqld would
    (0 until 3).foreach { fi =>
      val w = new MysqlBinlog.Writer(s"$dir/mysql-bin.00000$fi", checksum = true)
      if (fi > 0) w.previousGtids(Map(Sid -> Seq((1L, fi * 10L + 1L))))
      else w.previousGtids(Map.empty)
      w.tableMap(0L, 1L, "db", "t", schema)
      (1L to 10L).foreach { k =>
        val gno = fi * 10L + k
        w.gtid(gno * 1000L, gno, Sid)
        w.writeRows(gno * 1000L, 1L, schema, Seq(Array[Any](gno)))
      }
      w.close()
    }
    Files.writeString(Paths.get(dir, "binlog.index"),
      (0 until 3).map(fi => s"mysql-bin.00000$fi").mkString("", "\n", "\n"))
    val index = s"$dir/binlog.index"

    def partsOf(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.executedPlan.collectLeaves()
        .collectFirst {
          case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
            b.partitions.size
        }.getOrElse(-1)

    val full = readFmt(index, "mysql")
    assert(partsOf(full) == 3)
    // __gtid <= 5: only file 0 can match; the LAST file has no successor
    // set so it is never prunable (conservative) -> 2 partitions
    val low = full.filter(col("__gtid") <= 5L)
    assert(partsOf(low) == 2, "files 1 must prune; file 2 is the unprunable tail")
    assert(low.select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      (1L to 5L), "pruning must not change results")
    // __gtid > 25: files 0 and 1 prune
    val high = full.filter(col("__gtid") > 25L)
    assert(partsOf(high) == 1)
    assert(high.select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      (26L to 30L))
    // mid-range: only file 1 (+ the unprunable tail)
    val mid = full.filter(col("__gtid") >= 12L && col("__gtid") <= 18L)
    assert(partsOf(mid) == 2)
    assert(mid.select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      (12L to 18L))
    // streaming twin: startingGtid=10 proves file 0 (gnos 1-10)
    // at-or-below via the format's OWN metadata — a fresh stream's
    // initial offset lands on file 1 without opening file 0
    import graft.sources.{CdcOffset, CdcScan, CdcTable}
    val props = new java.util.HashMap[String, String]()
    props.put("indexFile", index); props.put("database", "db")
    props.put("table", "t"); props.put("binlogFormat", "mysql")
    props.put("startingGtid", "10")
    val off = new CdcTable(graft.cdc.CdcSchema.withEnvelope(schema), props)
      .newScanBuilder(new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        java.util.Map.of()))
      .build().asInstanceOf[CdcScan]
      .toMicroBatchStream("unused")
      .initialOffset().asInstanceOf[CdcOffset]
    assert(off.fileIdx == 1,
      s"PREVIOUS_GTIDS must skip the stream's prefix, got $off")
  }

  test("PREVIOUS_GTIDS tagged set: doc-derived golden bytes parse; writer emits them") {
    // Tagged Gtid_set encoding (MySQL 8.3+, WL#15588): the n_sids
    // field's MOST SIGNIFICANT byte is the set format (1 = tagged);
    // each entry is uuid(16) + tag(u8 len + ascii) + n_intervals u64le
    // + [start, end) u64le pairs. Bytes below are hand-derived from
    // that layout, NOT from this repo's writer — pinning the wire
    // format two ways so writer/parser co-drift cannot pass silently.
    val uuid = "aaaaaaaa-0000-0000-0000-000000000001"
    val uuidHex = "aa aa aa aa 00 00 00 00 00 00 00 00 00 00 00 01"
    val golden = (
      "02 00 00 00 00 00 00 01 " +          // n_sids=2, format byte 1
      s"$uuidHex 00 " +                     // entry 1: untagged stream
      "01 00 00 00 00 00 00 00 " +          //   1 interval
      "01 00 00 00 00 00 00 00 " +          //   start 1 (inclusive)
      "04 00 00 00 00 00 00 00 " +          //   end 4 (exclusive)
      s"$uuidHex 03 65 74 6c " +            // entry 2: tag 'etl'
      "01 00 00 00 00 00 00 00 " +
      "01 00 00 00 00 00 00 00 " +
      "03 00 00 00 00 00 00 00"
    ).split(" ").map(Integer.parseInt(_, 16).toByte)
    val expected = Map(
      uuid -> Seq((1L, 4L)),
      s"$uuid:etl" -> Seq((1L, 3L)))
    assert(MysqlBinlog.parsePreviousGtids(golden) == expected)
    // the writer must produce exactly the golden payload
    val dir = tmpDir()
    val path = s"$dir/mysql-bin.000001"
    val w = new MysqlBinlog.Writer(path, checksum = true)
    w.previousGtidsTagged(expected)
    w.close()
    val r = new MysqlBinlog.EventReader(path)
    try {
      var payload: Array[Byte] = null
      while (r.hasNext && payload == null) {
        val ev = r.next()
        if (ev.tpe == MysqlBinlog.EventType.PreviousGtids) payload = ev.payload
      }
      assert(payload != null, "writer must emit a PREVIOUS_GTIDS event")
      assert(payload.toSeq == golden.toSeq,
        s"writer bytes diverge from the documented layout:\n got ${
          payload.map(b => f"$b%02x").mkString(" ")}")
    } finally r.close()
    // an unknown format byte must refuse (None via readPreviousGtids,
    // never garbage bounds)
    val bad = golden.clone(); bad(7) = 2
    val e = intercept[IllegalArgumentException] {
      MysqlBinlog.parsePreviousGtids(bad)
    }
    assert(e.getMessage.contains("unknown PREVIOUS_GTIDS set format"), e.getMessage)
  }

  test("PREVIOUS_GTIDS tagged set: file pruning works on 8.3+ logs") {
    // the tagged twin of the classic pruning test: per-(uuid, tag) gno
    // streams RESTART at 1, so bounds must come from per-stream set
    // subtraction — a uuid-keyed union would compute garbage ranges
    val dir = tmpDir()
    val schema = StructType(Seq(StructField("id", LongType)))
    // three files; in each, 5 untagged txns and 5 'etl'-tagged txns
    // share the same gno values (per-stream uniqueness)
    (0 until 3).foreach { fi =>
      val w = new MysqlBinlog.Writer(s"$dir/mysql-bin.00000$fi", checksum = true)
      if (fi > 0) {
        val hi = fi * 5L + 1L
        w.previousGtidsTagged(Map(
          Sid -> Seq((1L, hi)), s"$Sid:etl" -> Seq((1L, hi))))
      } else w.previousGtidsTagged(Map.empty)
      w.tableMap(0L, 1L, "db", "t", schema)
      (1L to 5L).foreach { k =>
        val gno = fi * 5L + k
        w.gtid(gno * 1000L, gno, Sid)
        w.writeRows(gno * 1000L, 1L, schema, Seq(Array[Any](gno)))
        w.gtidTagged(gno * 1000L, gno, Sid, "etl")
        w.writeRows(gno * 1000L, 1L, schema, Seq(Array[Any](100L + gno)))
      }
      w.close()
    }
    Files.writeString(Paths.get(dir, "binlog.index"),
      (0 until 3).map(fi => s"mysql-bin.00000$fi").mkString("", "\n", "\n"))
    val index = s"$dir/binlog.index"

    def partsOf(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.executedPlan.collectLeaves()
        .collectFirst {
          case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
            b.partitions.size
        }.getOrElse(-1)

    val full = readFmt(index, "mysql")
    assert(partsOf(full) == 3)
    // __gtid <= 3: only file 0 can match (+ the unprunable tail)
    val low = full.filter(col("__gtid") <= 3L)
    assert(partsOf(low) == 2,
      "tagged PREVIOUS_GTIDS must prune file 1; file 2 is the unprunable tail")
    assert(low.select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(1L, 2L, 3L, 101L, 102L, 103L), "pruning must not change results")
    // __gtid > 12: files 0 and 1 prune
    val high = full.filter(col("__gtid") > 12L)
    assert(partsOf(high) == 1)
    assert(high.select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(13L, 14L, 15L, 113L, 114L, 115L))
    // streaming twin: startingGtid=5 proves file 0 at-or-below via the
    // tagged metadata — a fresh stream starts at file 1
    import graft.sources.{CdcOffset, CdcScan, CdcTable}
    val props = new java.util.HashMap[String, String]()
    props.put("indexFile", index); props.put("database", "db")
    props.put("table", "t"); props.put("binlogFormat", "mysql")
    props.put("startingGtid", "5")
    val off = new CdcTable(graft.cdc.CdcSchema.withEnvelope(schema), props)
      .newScanBuilder(new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        java.util.Map.of()))
      .build().asInstanceOf[CdcScan]
      .toMicroBatchStream("unused")
      .initialOffset().asInstanceOf[CdcOffset]
    assert(off.fileIdx == 1,
      s"tagged PREVIOUS_GTIDS must skip the stream's prefix, got $off")
  }

  test("MariaDB: GTID_LIST golden bytes; decoder identity triple; standalone DDL scope") {
    // GTID_LIST layout, hand-derived from the public format (u32 count
    // low-28-bits, then domain u32 + server u32 + seq u64 per entry) —
    // NOT from this repo's writer, pinning against co-drift
    val golden = (
      "02 00 00 00 " +                         // 2 entries, flags 0
      "00 00 00 00 65 00 00 00 0a 00 00 00 00 00 00 00 " + // d0 s101 seq10
      "01 00 00 00 66 00 00 00 03 00 00 00 00 00 00 00"    // d1 s102 seq3
    ).split(" ").map(Integer.parseInt(_, 16).toByte)
    assert(MysqlBinlog.parseGtidList(golden) ==
      Map("0" -> Seq((1L, 11L)), "1" -> Seq((1L, 4L))))
    // decoder: the (domain, header-server, seq) triple stamps rows; a
    // standalone (DDL) gtid opens a body-less scope its statement
    // closes — rows after it with no fresh gtid fail loud
    val schema = StructType(Seq(StructField("id", LongType)))
    val dir = tmpDir()
    val path = s"$dir/maria-bin.000001"
    val w = new MysqlBinlog.Writer(path, checksum = true, maria = true)
    w.gtidList(Nil)
    w.currentServerId = 101L
    w.gtidMaria(1000L, 1L, domain = 0L)
    w.tableMap(1000L, 9L, "db", "t", schema)
    w.writeRows(1000L, 9L, schema, Seq(Array[Any](1L)))
    w.xid(1000L, 1L)
    w.currentServerId = 102L
    w.gtidMaria(2000L, 2L, domain = 5L)
    w.tableMap(2000L, 9L, "db", "t", schema)
    w.updateRows(2000L, 9L, schema, Seq((Array[Any](1L), Array[Any](2L))))
    w.xid(2000L, 2L)
    w.close()
    val r = MariaDbAdapter.open(path)
    val dec = MariaDbAdapter.decoder("db", "t")
    val rows = try r.flatMap(dec.decode).toList finally r.close()
    assert(rows.map(x => (x.gtid, x.sourceId.toString, x.op)) == List(
      (1L, "0-101", CdcSchema.Op.Insert),
      (2L, "5-102", CdcSchema.Op.UpdateBefore),
      (2L, "5-102", CdcSchema.Op.UpdateAfter)))
    // standalone DDL: scope closes with the statement — a spliced rows
    // event after it must not inherit the DDL's seq
    val path2 = s"$dir/maria-bin.000002"
    val w2 = new MysqlBinlog.Writer(path2, checksum = true, maria = true)
    w2.gtidList(Nil)
    w2.gtidMaria(3000L, 7L, domain = 1L, standalone = true)
    w2.query(3000L, "db", "ALTER TABLE t COMMENT 'x'")
    w2.tableMap(3000L, 9L, "db", "t", schema)
    w2.writeRows(3000L, 9L, schema, Seq(Array[Any](9L)))
    w2.close()
    val r2 = MariaDbAdapter.open(path2)
    val dec2 = MariaDbAdapter.decoder("db", "t")
    val e = intercept[Exception] {
      try r2.flatMap(dec2.decode).toList finally r2.close()
    }
    assert(e.getMessage.contains("no live transaction identity"), e.getMessage)
  }

  test("MariaDB: rowsQuery=true surfaces ANNOTATE_ROWS statement text") {
    val schema = StructType(Seq(StructField("id", LongType)))
    val dir = tmpDir()
    val w = new MysqlBinlog.Writer(s"$dir/maria-bin.000001", checksum = true,
      maria = true)
    w.gtidList(Nil)
    w.gtidMaria(1000L, 1L, domain = 0L)
    w.annotateRows(1000L, "INSERT INTO t VALUES (1)")
    w.tableMap(1000L, 7L, "db", "t", schema)
    w.writeRows(1000L, 7L, schema, Seq(Array[Any](1L)))
    w.xid(1000L, 1L)
    w.gtidMaria(2000L, 2L, domain = 0L) // flag-off txn: __query null
    w.tableMap(2000L, 7L, "db", "t", schema)
    w.writeRows(2000L, 7L, schema, Seq(Array[Any](2L)))
    w.xid(2000L, 2L)
    w.close()
    Files.writeString(Paths.get(dir, "binlog.index"), "maria-bin.000001\n")
    val df = spark.read.format("binlogcdc")
      .option("indexFile", s"$dir/binlog.index")
      .option("database", "db").option("table", "t")
      .option("binlogFormat", "mariadb").option("rowsQuery", "true")
      .load()
    val got = df.select("id", CdcSchema.QueryCol).collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getString(1)))
      .toSeq.sortBy(_._1)
    assert(got == Seq((1L, "INSERT INTO t VALUES (1)"), (2L, null)))
  }

  test("MariaDB: truncated compressed rows events fail loud for the target table, skip others") {
    // log_bin_compress=ON bodies DECODE since round 13
    // (MariaCompressedSpec pins the layout); this test keeps the
    // SKIP/FAIL-LOUD boundary: the uncompressed post-header table id
    // decides target-ness, a malformed record for the target fails
    // loud, and non-target tables never pay inflation or throw
    import graft.cdc.CdcCodec.RawEvent
    val schema = StructType(Seq(StructField("id", LongType)))
    val dec = MariaDbAdapter.decoder("db", "t")
    def tableMapPayload(tableId: Long, db: String, table: String): Array[Byte] = {
      // build via the writer, read the payload back
      val dir = tmpDir()
      val w = new MysqlBinlog.Writer(s"$dir/m.000001", maria = true)
      w.tableMap(0L, tableId, db, table, schema)
      w.close()
      val r = new MysqlBinlog.EventReader(s"$dir/m.000001", maria = true)
      try r.find(_.tpe == MysqlBinlog.EventType.TableMap).get.payload
      finally r.close()
    }
    def tidBytes(tid: Long): Array[Byte] =
      (0 until 6).map(i => ((tid >> (8 * i)) & 0xff).toByte).toArray ++
        Array[Byte](0, 0) // flags
    dec.decode(RawEvent(MysqlBinlog.EventType.TableMap, 0L,
      tableMapPayload(9L, "db", "t"), 0L, 1L))
    dec.decode(RawEvent(MysqlBinlog.EventType.TableMap, 0L,
      tableMapPayload(8L, "db", "other"), 1L, 2L))
    // other table (even with a garbage record): skipped clean
    assert(dec.decode(RawEvent(MysqlBinlog.EventType.MariaWriteRowsCompressed,
      0L, tidBytes(8L) ++ Array[Byte](0x11, 0x22), 2L, 3L)).isEmpty)
    // target table with NO compressed record bytes: fail loud
    val e = intercept[Exception] {
      dec.decode(RawEvent(MysqlBinlog.EventType.MariaWriteRowsCompressed,
        0L, tidBytes(9L), 3L, 4L))
    }
    assert(e.getMessage.contains("truncated"), e.getMessage)
  }

  test("MariaDB: GTID_LIST file pruning and startingGtid prefix skip") {
    val dir = tmpDir()
    val schema = StructType(Seq(StructField("id", LongType)))
    // three files: domain-0 seqs 1-10, 11-20, 21-30 split across two
    // servers; each file opens with the GTID_LIST state before it
    (0 until 3).foreach { fi =>
      val w = new MysqlBinlog.Writer(s"$dir/maria-bin.00000$fi",
        checksum = true, maria = true)
      if (fi > 0) w.gtidList(Seq(
        (0L, 101L, fi * 10L - 1L), (0L, 102L, fi * 10L)))
      else w.gtidList(Nil)
      w.tableMap(0L, 1L, "db", "t", schema)
      (1L to 10L).foreach { k =>
        val seq = fi * 10L + k
        w.currentServerId = if (k % 2 == 1) 101L else 102L
        w.gtidMaria(seq * 1000L, seq, domain = 0L)
        w.writeRows(seq * 1000L, 1L, schema, Seq(Array[Any](seq)))
        w.xid(seq * 1000L, seq)
      }
      w.close()
    }
    Files.writeString(Paths.get(dir, "binlog.index"),
      (0 until 3).map(fi => s"maria-bin.00000$fi").mkString("", "\n", "\n"))
    val index = s"$dir/binlog.index"

    def partsOf(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.executedPlan.collectLeaves()
        .collectFirst {
          case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
            b.partitions.size
        }.getOrElse(-1)

    val full = readFmt(index, "mariadb")
    assert(partsOf(full) == 3)
    val low = full.filter(col("__gtid") <= 5L)
    assert(partsOf(low) == 2,
      "GTID_LIST must prune file 1; file 2 is the unprunable tail")
    assert(low.select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      (1L to 5L), "pruning must not change results")
    val high = full.filter(col("__gtid") > 25L)
    assert(partsOf(high) == 1)
    assert(high.select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      (26L to 30L))
    // streaming twin: startingGtid=10 lands the initial offset on file 1
    import graft.sources.{CdcOffset, CdcScan, CdcTable}
    val props = new java.util.HashMap[String, String]()
    props.put("indexFile", index); props.put("database", "db")
    props.put("table", "t"); props.put("binlogFormat", "mariadb")
    props.put("startingGtid", "10")
    val off = new CdcTable(graft.cdc.CdcSchema.withEnvelope(schema), props)
      .newScanBuilder(new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        java.util.Map.of()))
      .build().asInstanceOf[CdcScan]
      .toMicroBatchStream("unused")
      .initialOffset().asInstanceOf[CdcOffset]
    assert(off.fileIdx == 1,
      s"GTID_LIST must skip the stream's prefix, got $off")
  }

  test("fuzz: single-bit corruption always terminates cleanly (decode or fail loud)") {
    // with checksums OFF, a flipped bit can mis-frame values (that is
    // exactly the failure CRC32 exists to catch — see the CRC test);
    // what the PARSER itself must guarantee is termination with bounded
    // output or a clean exception — never a hang, and never unbounded
    // allocation from a corrupted length field
    val dir = tmpDir()
    val path = s"$dir/mysql-bin.000001"
    val schema = StructType(Seq(StructField("id", LongType), StructField("s", StringType)))
    val w = new MysqlBinlog.Writer(path) // checksum OFF: corruption reaches the decoder
    w.tableMap(0L, 1L, "db", "t", schema)
    w.gtid(0L, 1L, Sid)
    w.writeRows(0L, 1L, schema, Seq(Array[Any](1L, "aa"), Array[Any](2L, "bb")))
    w.close()
    val clean = decodeAll(path, "db", "t").map(r => (r.gtid, r.values(0)))
    assert(clean == Seq((1L, 1L), (1L, 2L)))
    val original = java.nio.file.Files.readAllBytes(Paths.get(path))
    val rnd = new scala.util.Random(5)
    var decoded = 0; var failures = 0
    (0 until 300).foreach { _ =>
      val mutated = original.clone()
      val at = rnd.nextInt(mutated.length)
      mutated(at) = (mutated(at) ^ (1 << rnd.nextInt(8))).toByte
      val p2 = s"$dir/fuzz.bin"
      java.nio.file.Files.write(Paths.get(p2), mutated)
      try {
        val rows = decodeAll(p2, "db", "t")
        // a row image consumes at least its null bitmap: output is
        // bounded by the file size, corrupted or not
        assert(rows.length <= original.length,
          s"corruption at $at yielded unbounded rows (${rows.length})")
        decoded += 1
      } catch {
        case e: org.scalatest.exceptions.TestFailedException => throw e
        case _: Exception => failures += 1 // fail-loud is an acceptable outcome
      }
    }
    assert(decoded + failures == 300)
    assert(decoded > 0, "value-level flips should still decode (CRC off)")
  }

  test("unknown binlogFormat fails at planning with a clear message") {
    val (_, mIdx) = writeBoth()
    val ex = intercept[IllegalArgumentException] {
      readFmt(mIdx, "maria").collect()
    }
    assert(ex.getMessage.contains("unknown binlogFormat"))
  }
}
