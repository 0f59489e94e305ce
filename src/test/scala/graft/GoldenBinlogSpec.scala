package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.types._

import graft.cdc.{CdcSchema, MysqlBinlog}

/** Whole-file golden binlog conformance: a complete TWO-FILE binlog
  * authored byte-by-byte from the documented replication layouts —
  * magic, FORMAT_DESCRIPTION (41-entry post-header table, CRC32
  * negotiation), PREVIOUS_GTIDS, GTID / TABLE_MAP (SIGNEDNESS +
  * COLUMN_NAME TLVs) / WRITE / UPDATE / DELETE / XID, and a ROTATE
  * chain — pinned here as hex and decoded through the PUBLIC
  * `binlogFormat=mysql` paths. The per-type golden vectors pin value
  * decode; this pins the FRAMING layer (header layout, event sizes and
  * offsets, checksum negotiation and verification, rotation, mid-file
  * resume) that the reference gets for free from `read_event_object()`
  * (binlog_table_reader.cc:164). The bytes were NOT produced by
  * [[MysqlBinlog.Writer]], so a writer/reader-symmetric framing
  * mistake cannot pass.
  *
  * Storyline (table `gd.t` = [id BIGINT, v VARCHAR(20) nullable],
  * server uuid 3e11fa47-71ca-11e1-9e33-c80aa9429562):
  *   file 1 @ts 1700000100: gtid 1 → INSERT (1,"ab"), (2,NULL); XID;
  *     ROTATE → file 2
  *   file 2 @ts 1700000200: gtid 2 → UPDATE (1,"ab")→(1,"cd"); XID;
  *     @ts 1700000300: gtid 3 → DELETE (2,NULL); XID
  */
class GoldenBinlogSpec extends SparkTestBase {

  private def hex(s: String): Array[Byte] =
    s.replaceAll("\\s", "").grouped(2).map(Integer.parseInt(_, 16).toByte).toArray

  /** golden-bin.000001 (412 bytes): magic, FDE(alg=1), PREVIOUS_GTIDS
    * (empty), GTID gno=1, TABLE_MAP, WRITE_ROWS_V2 ×2 rows, XID,
    * ROTATE("golden-bin.000002"). Every event CRC32-checksummed. */
  private val File1Hex =
    """fe62696e64f153650f010000007a0000007e00000000000400382e302e333600000000000000
      |0000000000000000000000000000000000000000000000000000000000000000000000000064
      |f1536513000d0008001200040404041200005400041a08000000080808020000000a0a0a2a2a
      |0012340000000001369a4a9364f1536523010000001f0000009d000000000000000000000000
      |0080d9c53e64f15365210100000041000000de0000000000003e11fa4771ca11e19e33c80aa9
      |4295620100000000000000020000000000000000010000000000000071a45dac64f153651301
      |0000003700000015010000000005000000000001000267640001740002080f02140002010100
      |04050269640176a77aa3f964f153651e01000000380000004d01000000000500000000000100
      |02000203000100000000000000026162020200000000000000548d77e664f153651001000000
      |1f0000006c01000000006500000000000000e2a039fa64f153650401000000300000009c0100
      |0000000400000000000000676f6c64656e2d62696e2e303030303032572d204a""".stripMargin

  /** golden-bin.000002 (603 bytes): magic, FDE(alg=1), PREVIOUS_GTIDS
    * {sid:[1,2)}, GTID gno=2, TABLE_MAP, UPDATE_ROWS_V2, XID,
    * GTID gno=3, TABLE_MAP, DELETE_ROWS_V2, XID. */
  private val File2Hex =
    """fe62696ec8f153650f010000007a0000007e00000000000400382e302e333600000000000000
      |00000000000000000000000000000000000000000000000000000000000000000000000000c8
      |f1536513000d0008001200040404041200005400041a08000000080808020000000a0a0a2a2a
      |00123400000000017408f6aec8f15365230100000047000000c5000000000001000000000000
      |003e11fa4771ca11e19e33c80aa9429562010000000000000001000000000000000200000000
      |000000fe5cc684c8f15365210100000041000000060100000000003e11fa4771ca11e19e33c8
      |0aa94295620200000000000000020100000000000000020000000000000004abe77bc8f15365
      |1301000000370000003d010000000005000000000001000267640001740002080f0214000201
      |010004050269640176972dc503c8f153651f010000003c000000790100000000050000000000
      |01000200020303000100000000000000026162000100000000000000026364ee5fa57cc8f153
      |6510010000001f0000009801000000006600000000000000b3cf1a852cf25365210100000041
      |000000d90100000000003e11fa4771ca11e19e33c80aa9429562030000000000000002020000
      |00000000000300000000000000fafc8f552cf253651301000000370000001002000000000500
      |0000000001000267640001740002080f02140002010100040502696401760ded4a922cf25365
      |20010000002c0000003c02000000000500000000000100020002030202000000000000008381
      |76482cf2536510010000001f0000005b0200000000670000000000000042b5bb59""".stripMargin

  /** (start, end) byte offsets of every event, in order, per file —
    * hand-derived from the authored sizes (magic=4, header=19, CRC=4). */
  private val Offsets1 = Seq(
    (4L, 126L), (126L, 157L), (157L, 222L), (222L, 277L), (277L, 333L),
    (333L, 364L), (364L, 412L))
  private val Offsets2 = Seq(
    (4L, 126L), (126L, 197L), (197L, 262L), (262L, 317L), (317L, 377L),
    (377L, 408L), (408L, 473L), (473L, 528L), (528L, 572L), (572L, 603L))

  private val Sid = "3e11fa47-71ca-11e1-9e33-c80aa9429562"
  private val ResumePos = 408L // start of GTID gno=3 in file 2

  private def materialize(): String = {
    val dir = Files.createTempDirectory("golden-binlog").toString
    Files.write(Paths.get(dir, "golden-bin.000001"), hex(File1Hex))
    Files.write(Paths.get(dir, "golden-bin.000002"), hex(File2Hex))
    Files.writeString(Paths.get(dir, "binlog.index"),
      "golden-bin.000001\ngolden-bin.000002\n")
    dir
  }

  private val sourceSchema = StructType(Seq(
    StructField("id", LongType), StructField("v", StringType)))

  test("authored 2-file binlog decodes end-to-end via the public source") {
    val dir = materialize()
    val df = spark.read.format("binlogcdc")
      .option("indexFile", s"$dir/binlog.index")
      .option("database", "gd").option("table", "t")
      .option("binlogFormat", "mysql")
      .load()
    // schema inferred from the COLUMN_NAME TLV
    assert(df.schema.fields.map(_.name).toSeq ==
      Seq("id", "v", "__op", "__gtid", "__tm", "__source_id"))
    val rows = df.collect().map { r =>
      (r.getLong(0), if (r.isNullAt(1)) null else r.getString(1),
        r.getInt(2), r.getLong(3),
        r.getAs[java.time.LocalDateTime](4)
          .toEpochSecond(java.time.ZoneOffset.UTC),
        r.getString(5))
    }.toSeq.sortBy(t => (t._4, t._3, t._1))
    assert(rows == Seq(
      (1L, "ab", CdcSchema.Op.Insert, 1L, 1700000100L, Sid),
      (2L, null, CdcSchema.Op.Insert, 1L, 1700000100L, Sid),
      (1L, "ab", CdcSchema.Op.UpdateBefore, 2L, 1700000200L, Sid),
      (1L, "cd", CdcSchema.Op.UpdateAfter, 2L, 1700000200L, Sid),
      (2L, null, CdcSchema.Op.Delete, 3L, 1700000300L, Sid)))
  }

  test("authored binlogs read the same through the scan and decode(ev)") {
    val golden = materialize()
    DecodeParity.check(spark, Map("indexFile" -> s"$golden/binlog.index",
      "database" -> "gd", "table" -> "t", "binlogFormat" -> "mysql"))
    for ((hexStr, label) <- Seq((PayloadZstdHex, "zstd"), (PayloadNoneHex, "none"))) {
      val dir = Files.createTempDirectory(s"golden-parity-$label").toString
      Files.write(Paths.get(dir, "golden-bin.000001"), hex(hexStr))
      Files.writeString(Paths.get(dir, "binlog.index"), "golden-bin.000001\n")
      DecodeParity.check(spark, Map("indexFile" -> s"$dir/binlog.index",
        "database" -> "gd", "table" -> "t", "binlogFormat" -> "mysql"))
    }
  }

  test("event framing: every event's byte offsets match the authored layout") {
    val dir = materialize()
    def offsets(f: String): Seq[(Long, Long)] = {
      val r = new MysqlBinlog.EventReader(s"$dir/$f")
      try {
        val out = Seq.newBuilder[(Long, Long)]
        while (r.hasNext) { val e = r.next(); out += ((e.pos, e.endPos)) }
        out.result()
      } finally r.close()
    }
    assert(offsets("golden-bin.000001") == Offsets1)
    assert(offsets("golden-bin.000002") == Offsets2)
    // the torn-tail frontier of a whole file is its length
    assert(MysqlBinlog.lastCompleteOffset(s"$dir/golden-bin.000001") == 412L)
    assert(MysqlBinlog.lastCompleteOffset(s"$dir/golden-bin.000002") == 603L)
  }

  test("a file whose first event is not FORMAT_DESCRIPTION fails loud") {
    // splice the FDE out of file 1: the remaining events are valid, but
    // reading them without the FDE would skip checksum verification —
    // misaligned/corrupt files must not decode silently
    val dir = materialize()
    val bytes = Files.readAllBytes(Paths.get(dir, "golden-bin.000001"))
    val spliced = bytes.slice(0, 4) ++ bytes.drop(126) // magic + post-FDE
    Files.write(Paths.get(dir, "golden-bin.000001"), spliced)
    val r = new MysqlBinlog.EventReader(s"$dir/golden-bin.000001")
    try {
      val ex = intercept[java.io.IOException] { r.hasNext }
      assert(ex.getMessage.contains("FORMAT_DESCRIPTION"), ex.getMessage)
    } finally r.close()
  }

  test("a flipped bit in an authored event fails the CRC check loud") {
    val dir = materialize()
    val p = Paths.get(dir, "golden-bin.000001")
    val bytes = Files.readAllBytes(p)
    bytes(290) = (bytes(290) ^ 0x40).toByte // inside WRITE_ROWS_V2 body
    Files.write(p, bytes)
    val r = new MysqlBinlog.EventReader(s"$dir/golden-bin.000001")
    try {
      val ex = intercept[java.io.IOException] {
        while (r.hasNext) r.next()
      }
      assert(ex.getMessage.contains("CRC32 mismatch"))
    } finally r.close()
  }

  /** A TRANSACTION_PAYLOAD binlog (binlog_transaction_compression=ON)
    * authored from the documented TLV layout — type 2 = compression
    * algorithm (0 = zstd), type 3 = lenenc uncompressed size, 0 = end —
    * with the inner v4 event stream (plain 19-byte headers, log_pos 0,
    * no per-event CRC) zstd-compressed by an INDEPENDENT encoder (the
    * zstd CLI at level 19), not this repo's writer. One txn: gtid 9 →
    * TABLE_MAP + WRITE_ROWS (10,"pz"),(11,NULL) + XID. */
  private val PayloadZstdHex =
    """fe62696e90f253650f010000007a0000007e00000000000400382e302e333600000000000000
      |0000000000000000000000000000000000000000000000000000000000000000000000000090
      |f2536513000d0008000000000000000000005400000008000000000000000000000a0a0a2a2a
      |0000000000000001d9a650a190f25365210100000041000000bf0000000000003e11fa4771ca
      |11e19e33c80aa94295620900000000000000020800000000000000090000000000000069456a
      |2b90f2536528010000007a0000003901000000000201000301820028b52ffd04687d02007285
      |0f19b0a9350cc3302c012e25b40c6a96548a724410a5106b64cb14ff61caeff817cd9ada9f08
      |b4cd6fa9ee919a10bc6b93660c2d759fa8bd2f647e08e464570500a00a570503388455961060
      |0ee39aff42b5a74376""".stripMargin

  /** The same transaction under compression algorithm 255 (NONE) — the
    * wire state mysqld emits when compression would not gain — with no
    * uncompressed-size field (only zstd requires it). */
  private val PayloadNoneHex =
    """fe62696e90f253650f010000007a0000007e00000000000400382e302e333600000000000000
      |0000000000000000000000000000000000000000000000000000000000000000000000000090
      |f2536513000d0008000000000000000000005400000008000000000000000000000a0a0a2a2a
      |0000000000000001d9a650a190f25365210100000041000000bf0000000000003e11fa4771ca
      |11e19e33c80aa94295620900000000000000020800000000000000090000000000000069456a
      |2b90f2536528010000009d0000005c01000000000201ff0090f2536513010000003300000000
      |000000000005000000000001000267640001740002080f021400020101000405026964017690
      |f253651e0100000034000000000000000000050000000000010002000203000a000000000000
      |0002707a020b0000000000000090f2536510010000001b000000000000000000910100000000
      |000031d2ea7a""".stripMargin

  test("authored TRANSACTION_PAYLOAD decodes: independent zstd frame and NONE variant") {
    for ((hexStr, label) <- Seq((PayloadZstdHex, "zstd"), (PayloadNoneHex, "none"))) {
      val dir = Files.createTempDirectory(s"golden-payload-$label").toString
      Files.write(Paths.get(dir, "golden-bin.000001"), hex(hexStr))
      Files.writeString(Paths.get(dir, "binlog.index"), "golden-bin.000001\n")
      val rows = spark.read.format("binlogcdc")
        .option("indexFile", s"$dir/binlog.index")
        .option("database", "gd").option("table", "t")
        .option("binlogFormat", "mysql")
        .load()
        .collect().map { r =>
          (r.getLong(0), if (r.isNullAt(1)) null else r.getString(1),
            r.getInt(2), r.getLong(3), r.getString(5))
        }.toSeq.sortBy(_._1)
      assert(rows == Seq(
        (10L, "pz", CdcSchema.Op.Insert, 9L, Sid),
        (11L, null, CdcSchema.Op.Insert, 9L, Sid)), s"variant $label")
    }
  }

  /** A gtid_mode=OFF binlog: the transaction opens with ANONYMOUS_GTID
    * (type 34) instead of GTID — no transaction identity on the wire,
    * so reading the target table's rows must fail loud THROUGH the
    * public source (silently stamping a stale __gtid would corrupt
    * latest-image ordering). Authored from the documented layouts. */
  private val AnonGtidHex =
    """fe62696ef4f253650f010000007a0000007e00000000000400382e302e333600000000000000
      |00000000000000000000000000000000000000000000000000000000000000000000000000f4
      |f2536513000d0008001200040404041200005400041a08000000080808020000000a0a0a2a2a
      |0012340000000001ce75880ef4f25365220100000041000000bf000000000001000000000000
      |00000000000000000000000000000000000002ffffffffffffffff00000000000000004b8b7c
      |09f4f25365130100000037000000f6000000000005000000000001000267640001740002080f
      |0214000201010004050269640176ede0417ff4f253651e010000002f00000025010000000005
      |0000000000010002000203000100000000000000026162985087c9f4f2536510010000001f00
      |000044010000000007000000000000000c77dfa4""".stripMargin

  test("authored gtid_mode=OFF binlog fails loud through the public source") {
    val dir = Files.createTempDirectory("golden-anon").toString
    Files.write(Paths.get(dir, "golden-bin.000001"), hex(AnonGtidHex))
    Files.writeString(Paths.get(dir, "binlog.index"), "golden-bin.000001\n")
    val ex = intercept[Exception] {
      spark.read.format("binlogcdc")
        .option("indexFile", s"$dir/binlog.index")
        .option("database", "gd").option("table", "t")
        .option("binlogFormat", "mysql")
        .load().collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    val all = messages(ex).mkString(" | ")
    assert(all.contains("ANONYMOUS_GTID") && all.contains("gtid_mode"), all)
  }

  test("mid-file resume: a stream offset inside file 2 replays nothing before it") {
    import graft.sources.{CdcMicroBatchStream, CdcOffset}
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    val dir = materialize()
    val env = CdcSchema.withEnvelope(sourceSchema)
    val stream = new CdcMicroBatchStream(s"$dir/binlog.index", "gd", "t",
      env, env, Array.empty, format = "mysql")
    // frontier = (last file, its last complete event)
    val latest = stream.latestOffset(stream.initialOffset(),
      ReadLimit.allAvailable()).asInstanceOf[CdcOffset]
    assert(latest == CdcOffset(1, 603L))
    // a fresh start covers both files
    val fromStart = stream.planInputPartitions(stream.initialOffset(), latest)
    assert(fromStart.length == 2)
    // resume at the authored offset of GTID gno=3: exactly the delete
    // (control events before the offset replay for state, emit nothing)
    val parts = stream.planInputPartitions(CdcOffset(1, ResumePos), latest)
    assert(parts.length == 1)
    val reader = stream.createReaderFactory().createReader(parts.head)
    val got = Seq.newBuilder[(Long, Boolean, Int, Long)]
    try {
      while (reader.next()) {
        val r = reader.get()
        got += ((r.getLong(0), r.isNullAt(1), r.getInt(2), r.getLong(3)))
      }
    } finally reader.close()
    assert(got.result() == Seq((2L, true, CdcSchema.Op.Delete, 3L)))
  }
}
