package graft

import java.nio.file.Files

import graft.cdc.{CdcCodec, CdcSchema}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** Unit specs for the CDC log codec (SURVEY.md §5.2.1): round-trips,
  * null bitmaps spanning bytes, multi-row events (regression vs reference
  * defect #1), interleaved tables (vs defect #2), update pairing, GTID
  * stamping, rotation. Pure JVM — no SparkSession needed.
  */
class CdcCodecSpec extends AnyFunSuite {

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("i", IntegerType),
    StructField("d", DoubleType), StructField("s", StringType),
    StructField("ts", TimestampType), StructField("ntz", TimestampNTZType),
    StructField("bin", BinaryType), StructField("dt", DateType),
    StructField("f", FloatType), StructField("sh", ShortType),
    StructField("b", ByteType), StructField("bool", BooleanType),
    StructField("dec", DecimalType(10, 2))))

  private def row(id: Long): Array[Any] = Array[Any](
    id, id.toInt, id * 1.5, UTF8String.fromString(s"name-$id"),
    id * 1000000L, id * 2000000L, Array[Byte](1, 2, id.toByte), 19000 + id.toInt,
    id.toFloat, id.toShort, id.toByte, id % 2 == 0,
    Decimal(new java.math.BigDecimal(s"$id.25"), 10, 2))

  private def decodeAll(file: String, db: String = "db", table: String = "t"): Seq[CdcCodec.CdcRow] = {
    val r = new CdcCodec.EventReader(file)
    val dec = new CdcCodec.RowDecoder(db, table)
    try r.flatMap(dec.decode).toList finally r.close()
  }

  private def tmp(): String =
    Files.createTempDirectory("cdc-codec-spec").toString

  test("round-trip of every supported type, incl. all-null and >8-col bitmap") {
    val dir = tmp()
    val f = s"$dir/log.0"
    val w = new CdcCodec.LogWriter(f)
    val nullRow: Array[Any] = Array.fill[Any](schema.length)(null)
    w.tableMap(1000L, 1L, "db", "t", schema)
    w.gtid(1000L, 7L)
    w.writeRows(1000L, 1L, schema, Seq(row(1), nullRow, row(300)))
    w.close()

    val rows = decodeAll(f)
    assert(rows.length == 3) // multi-row event fully decoded (ref defect #1 fixed)
    assert(rows.forall(_.op == CdcSchema.Op.Insert))
    assert(rows.forall(_.gtid == 7L))
    assert(rows.forall(_.tmMicros == 1000L * 1000))
    val r0 = rows.head.values
    val expect = row(1)
    schema.fields.indices.foreach { i =>
      (r0(i), expect(i)) match {
        case (a: Array[Byte], b: Array[Byte]) => assert(a.sameElements(b), s"col $i")
        case (a, b) => assert(a == b, s"col $i: $a != $b")
      }
    }
    assert(rows(1).values.forall(_ == null)) // null bitmap across 2 bytes (13 cols)
  }

  test("fuzz: single-bit corruption terminates cleanly, never over-allocates") {
    // GCDC has no CRC, so a corrupted event-length field is
    // indistinguishable from a torn tail — the reader must stop at the
    // last whole event (or fail loud in the decoder), and above all
    // must never pre-allocate a payload larger than the file's
    // remaining bytes (a flipped length high bit used to demand 2 GiB)
    val dir = tmp()
    val f = s"$dir/fuzz-src.0"
    val w = new CdcCodec.LogWriter(f)
    val s2 = StructType(Seq(StructField("id", LongType), StructField("s", StringType)))
    w.tableMap(0L, 1L, "db", "t", s2)
    w.gtid(0L, 1L)
    w.writeRows(0L, 1L, s2, Seq(Array[Any](1L, "aa"), Array[Any](2L, "bb")))
    w.close()
    val original = Files.readAllBytes(java.nio.file.Paths.get(f))
    val rnd = new scala.util.Random(9)
    var decoded = 0; var failures = 0
    (0 until 300).foreach { _ =>
      val mutated = original.clone()
      val at = rnd.nextInt(mutated.length)
      mutated(at) = (mutated(at) ^ (1 << rnd.nextInt(8))).toByte
      val p2 = s"$dir/fuzz.bin"
      Files.write(java.nio.file.Paths.get(p2), mutated)
      try {
        val rows = decodeAll(p2)
        assert(rows.length <= original.length)
        decoded += 1
      } catch {
        case e: org.scalatest.exceptions.TestFailedException => throw e
        case _: Exception => failures += 1
      }
    }
    assert(decoded + failures == 300)
    assert(decoded > 0)
  }

  test("a row count or BLOB length past the payload fails with the event's log offset") {
    // hand-built rows events whose count (2^24) or BLOB length (2^30)
    // exceeds the payload: the decoder must refuse the field, not size
    // an array from it first
    val s2 = StructType(Seq(StructField("id", LongType), StructField("bin", BinaryType)))
    val f = s"${tmp()}/log.0"
    val w = new CdcCodec.LogWriter(f)
    w.tableMap(0L, 1L, "db", "t", s2)
    w.gtid(0L, 1L)
    w.close()
    val dec = new CdcCodec.RowDecoder("db", "t")
    val r = new CdcCodec.EventReader(f)
    try r.foreach(dec.decode) finally r.close()
    def payload(count: Int, rows: Seq[(Long, Int, Array[Byte])]): Array[Byte] = {
      val buf = new java.io.ByteArrayOutputStream()
      val d = new java.io.DataOutputStream(buf)
      d.writeLong(1L); d.writeInt(count)
      rows.foreach { case (id, len, bin) =>
        d.writeByte(0); d.writeLong(id); d.writeInt(len); d.write(bin)
      }
      d.flush(); buf.toByteArray
    }
    def event(tpe: Byte, p: Array[Byte], pos: Long) =
      CdcCodec.RawEvent(tpe, 0L, p, pos, pos + 13 + p.length)
    val two = Seq((1L, 2, Array[Byte](1, 2)), (2L, 2, Array[Byte](3, 4)))
    import CdcCodec.EventType._
    Seq(
      event(WriteRows, payload(1 << 24, two), 4096L),
      event(UpdateRows, payload(1 << 24, two), 8192L),
      event(WriteRows, payload(1, Seq((1L, 1 << 30, Array[Byte](1, 2)))), 12288L)
    ).foreach { ev =>
      val e = intercept[java.io.IOException](dec.decode(ev))
      assert(e.getMessage.contains(s"log offset ${ev.pos}"), e.getMessage)
    }
    // the decoder still reads a well-formed event afterwards
    val ok = dec.decode(event(WriteRows, payload(2, two), 16384L))
    assert(ok.map(_.values(0)) == Seq(1L, 2L))
    assert(ok.map(_.values(1).asInstanceOf[Array[Byte]].toSeq) ==
      Seq(Seq[Byte](1, 2), Seq[Byte](3, 4)))
  }

  test("BinlogFormatAdapter seam: the GCDC implementation decodes through the interface") {
    // the adapter traits (BinlogAdapter.scala) are the documented seam a
    // real MySQL-binlog decoder implements; this drives the built-in
    // format through the interface vocabulary — event iteration,
    // stateful decode — after the one index reader every format shares,
    // so the seam stays load-bearing
    val dir = tmp()
    val f = s"$dir/log.0"
    val w = new CdcCodec.LogWriter(f)
    w.tableMap(1000L, 1L, "db", "t", schema)
    w.gtid(1000L, 7L)
    w.writeRows(1000L, 1L, schema, Seq(row(1), row(2)))
    w.close()
    Files.writeString(java.nio.file.Paths.get(dir, "binlog.index"), "log.0\n")

    val adapter: graft.cdc.BinlogFormatAdapter = graft.cdc.GcdcAdapter
    val files = CdcCodec.readIndex(s"$dir/binlog.index")
    assert(files == Seq(f))
    val src: graft.cdc.RawEventSource = adapter.open(files.head)
    val dec: graft.cdc.CdcRowDecoder = adapter.decoder("db", "t")
    val rows = try src.flatMap(dec.decode).toList finally src.close()
    assert(rows.map(_.values(0)) == Seq(1L, 2L) && rows.forall(_.gtid == 7L))
  }

  test("update emits before+after atomically; delete carries image") {
    val dir = tmp()
    val f = s"$dir/log.0"
    val w = new CdcCodec.LogWriter(f)
    w.tableMap(0L, 1L, "db", "t", schema)
    w.gtid(5000L, 42L)
    w.updateRows(5000L, 1L, schema, Seq((row(1), row(2)), (row(3), row(4))))
    w.gtid(6000L, 43L)
    w.deleteRows(6000L, 1L, schema, Seq(row(9)))
    w.close()

    val rows = decodeAll(f)
    assert(rows.map(_.op) == Seq(2, 3, 2, 3, 0))
    assert(rows.take(4).forall(_.gtid == 42L))
    assert(rows(0).values(0) == 1L && rows(1).values(0) == 2L)
    assert(rows(2).values(0) == 3L && rows(3).values(0) == 4L)
    assert(rows(4).gtid == 43L && rows(4).values(0) == 9L)
  }

  test("interleaved tables: ids and schemas never cross (ref defect #2 fixed)") {
    val other = StructType(Seq(StructField("x", StringType)))
    val dir = tmp()
    val f = s"$dir/log.0"
    val w = new CdcCodec.LogWriter(f)
    w.tableMap(0L, 1L, "db", "t", schema)
    w.tableMap(0L, 2L, "db", "other", other)
    w.gtid(0L, 1L)
    w.writeRows(0L, 2L, other, Seq(Array[Any](UTF8String.fromString("zz"))))
    // re-map table 2 AFTER target's map — the reference's bug would let
    // this overwrite the decode schema used for table 1
    w.tableMap(0L, 2L, "db", "other", other)
    w.gtid(0L, 2L)
    w.writeRows(0L, 1L, schema, Seq(row(5)))
    w.close()

    val rows = decodeAll(f)
    assert(rows.length == 1)
    assert(rows.head.values(0) == 5L && rows.head.gtid == 2L)

    val otherRows = decodeAll(f, table = "other")
    assert(otherRows.length == 1 && otherRows.head.values(0) == UTF8String.fromString("zz"))
  }

  test("rotation: index file ordering, empty file, trailing newline") {
    val dir = tmp()
    val mk = (name: String, ids: Seq[Long]) => {
      val w = new CdcCodec.LogWriter(s"$dir/$name")
      w.tableMap(0L, 1L, "db", "t", schema)
      if (ids.nonEmpty) { w.gtid(0L, ids.head); w.writeRows(0L, 1L, schema, ids.map(row)) }
      w.close()
    }
    mk("b.0", Seq(1, 2)); mk("b.1", Nil); mk("b.2", Seq(3))
    Files.writeString(java.nio.file.Paths.get(dir, "idx"), "b.0\nb.1\nb.2\n\n")
    val files = CdcCodec.readIndex(s"$dir/idx")
    assert(files.map(_.split('/').last) == Seq("b.0", "b.1", "b.2"))
    val all = files.flatMap(decodeAll(_))
    assert(all.map(_.values(0)) == Seq(1L, 2L, 3L))
  }

  test("schema inference finds the right table's TABLE_MAP") {
    val other = StructType(Seq(StructField("x", StringType)))
    val dir = tmp()
    val w = new CdcCodec.LogWriter(s"$dir/log.0")
    w.tableMap(0L, 2L, "db", "other", other)
    w.tableMap(0L, 1L, "db", "t", schema)
    w.close()
    Files.writeString(java.nio.file.Paths.get(dir, "idx"), "log.0\n")
    assert(CdcCodec.inferSourceSchema(s"$dir/idx", "db", "t").contains(schema))
    assert(CdcCodec.inferSourceSchema(s"$dir/idx", "db", "other").contains(other))
    assert(CdcCodec.inferSourceSchema(s"$dir/idx", "db", "missing").isEmpty)
  }

  test("column pruning mask skips values without corrupting the stream") {
    val dir = tmp()
    val f = s"$dir/log.0"
    val w = new CdcCodec.LogWriter(f)
    w.tableMap(0L, 1L, "db", "t", schema)
    w.gtid(0L, 1L)
    w.writeRows(0L, 1L, schema, Seq(row(1), row(2)))
    w.close()
    val r = new CdcCodec.EventReader(f)
    val dec = new CdcCodec.RowDecoder("db", "t", i => i == 0 || i == 3) // id + s only
    val rows = try r.flatMap(dec.decode).toList finally r.close()
    assert(rows.map(_.values(0)) == Seq(1L, 2L))
    assert(rows.map(_.values(3)) == Seq(UTF8String.fromString("name-1"), UTF8String.fromString("name-2")))
    assert(rows.forall(r => r.values(2) == null && r.values(6) == null)) // skipped
  }

  test("v2 sidecar: whitespace names round-trip; stats match written rows") {
    val dir = tmp()
    val f = s"$dir/log.0"
    val w = new CdcCodec.LogWriter(f)
    w.tableMap(0L, 1L, "my db", "my tbl+x", schema)
    w.gtid(1000L, 5L)
    w.writeRows(1000L, 1L, schema, Seq(row(1), row(2)))
    w.gtid(2000L, 9L)
    w.updateRows(2000L, 1L, schema, Seq((row(1), row(1))))
    w.close()
    val meta = CdcCodec.readMeta(f).get
    val stats = meta.tables.get(("my db", "my tbl+x"))
    assert(stats.rows == 4 && stats.minGtid == 5L && stats.maxGtid == 9L)
    assert(stats.minTs == 1000L && stats.maxTs == 2000L)
    // no torn temp file left behind by the atomic publish
    assert(!new java.io.File(dir).list().exists(_.contains(".meta.tmp")))
  }

  test("torn or malformed sidecars invalidate cleanly (decline, never misparse)") {
    val dir = tmp()
    val f = s"$dir/log.0"
    val w = new CdcCodec.LogWriter(f)
    w.tableMap(0L, 1L, "db", "t", schema)
    w.gtid(0L, 1L); w.writeRows(0L, 1L, schema, Seq(row(1)))
    w.close()
    val meta = java.nio.file.Paths.get(f + ".meta")
    val good = java.nio.file.Files.readString(meta)
    // truncated c-line (torn write remnant): whole sidecar must read None
    java.nio.file.Files.writeString(meta,
      good.linesIterator.toSeq.head + "\nc db t 1\n")
    assert(CdcCodec.readMeta(f).isEmpty)
    // empty sidecar: None, no crash
    java.nio.file.Files.writeString(meta, "")
    assert(CdcCodec.readMeta(f).isEmpty)
    // garbage: None, no crash
    java.nio.file.Files.writeString(meta, "zzz not-a-number\n")
    assert(CdcCodec.readMeta(f).isEmpty)
  }
}
