package graft.cdc

import java.io.{BufferedOutputStream, DataInputStream, DataOutputStream, EOFException, FileOutputStream}
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.types._
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.unsafe.types.UTF8String

/** Self-contained CDC log codec with binlog semantics (SURVEY.md §7.0).
  *
  * Event stream model mirrors the reference's event loop
  * (/root/reference/binlog_table_reader.cc:163-432): TABLE_MAP declares a
  * table's schema under a numeric table id, GTID stamps the enclosing
  * transaction, WRITE/UPDATE/DELETE ROWS events carry row images with a
  * null bitmap per row. Deliberate corrections over the reference
  * (SURVEY.md §2.A "defects"):
  *  - every row of a multi-row event is decoded (ref decodes only the
  *    first: binlog_table_reader.cc:243, 310, 388);
  *  - TABLE_MAP state is tracked per table id in a map, so interleaved
  *    tables can't mismatch schema and id (ref's missing-braces bug at
  *    binlog_table_reader.cc:402-406).
  *
  * Log file layout: magic "GCDC" + version, then a sequence of
  * self-delimiting events: [type:u8][timestampMs:i64][len:i32][payload].
  * The index file lists log file paths, one per line, exactly like the
  * reference's binlog index (binlog_table_reader.cc:12-19).
  */
object CdcCodec {
  val Magic: Int = 0x47434443 // "GCDC"
  val Version: Int = 1
  val HeaderLen: Int = 8
  /** Bytes before each event's payload: type u8, timestamp i64, length i32. */
  val EventHeaderLen: Int = 1 + 8 + 4

  object EventType {
    val TableMap = 1: Byte
    val Gtid = 2: Byte
    val WriteRows = 3: Byte
    val UpdateRows = 4: Byte
    val DeleteRows = 5: Byte
    val Rotate = 6: Byte
  }

  /** One decoded change-row in Catalyst-internal value representation
    * (UTF8String / micros-long / Decimal / …), envelope included.
    * `sourceId` is the originating server's identity from the GTID event
    * (UTF8String — it lands directly in an InternalRow). `query` is the
    * transaction's ROWS_QUERY statement text (MySQL format with
    * `binlog_rows_query_log_events=ON`); null when the wire carries
    * none — including always for the GCDC format. */
  final case class CdcRow(op: Int, gtid: Long, tmMicros: Long,
      sourceId: UTF8String, values: Array[Any], query: UTF8String = null)

  /** Epoch-drift decode plan, ONE policy shared by the GCDC and MySQL
    * decoders (they promise identical schemaDrift=epochs semantics —
    * sharing the construction keeps that true by construction):
    * `target(j)` = the expected column declared column j feeds (-1 =
    * the query has no same-named, same-typed column: it byte-skips),
    * `declaredNeeded` marks declared columns the query actually
    * consumes (everything else byte-skips). An expected column no
    * declared column feeds reads null for the epoch's rows. */
  private[cdc] final class EpochPlan(val target: Array[Int],
    val declaredNeeded: Array[Boolean])

  /** Match by (name, type): nullability and metadata don't affect the
    * byte layout, a re-typed same-named column must NOT silently decode
    * as the old type. `declaredNames`/`declaredTypes` are parallel and
    * equal-length (callers validate their wire metadata first). */
  private[cdc] def buildEpochPlan(expected: StructType,
      declaredNames: IndexedSeq[String], declaredTypes: IndexedSeq[DataType],
      needed: Int => Boolean): EpochPlan = {
    val target = declaredNames.indices.map(j =>
      expected.fields.indexWhere(ef =>
        declaredNames(j) == ef.name && declaredTypes(j) == ef.dataType)).toArray
    new EpochPlan(target, target.map(i => i >= 0 && needed(i)))
  }

  // ---------------------------------------------------------------- writer

  /** Fixture/test encoder (the reference never writes — mysqld does; our
    * writer replaces that producer for tests, per SURVEY.md §5.2). */
  final class LogWriter(path: String) extends FixtureSink {
    private val out = new DataOutputStream(
      new BufferedOutputStream(new FileOutputStream(path), 1 << 16))
    out.writeInt(Magic); out.writeInt(Version)
    private var minGtid = Long.MaxValue; private var maxGtid = Long.MinValue
    private var minTs = Long.MaxValue; private var maxTs = Long.MinValue
    // per-table stats (update = 2 images) for the v2 sidecar: row count
    // plus min/max (__gtid, event time) OF THIS TABLE'S rows — serves
    // COUNT/MIN/MAX pushdown without decoding the log. (The file-global
    // gtid/ts bounds above stay for pruning; in a multi-table log the
    // per-table bounds are tighter.)
    private val tableNames = scala.collection.mutable.Map.empty[Long, (String, String)]
    private val tableStats =
      scala.collection.mutable.Map.empty[(String, String), TableStats]
    private var currentGtid = 0L
    private def countRows(tableId: Long, n: Long, tsMs: Long): Unit =
      tableNames.get(tableId).foreach { key =>
        val s = tableStats.getOrElseUpdate(key, TableStats())
        s.rows += n
        if (currentGtid < s.minGtid) s.minGtid = currentGtid
        if (currentGtid > s.maxGtid) s.maxGtid = currentGtid
        if (tsMs < s.minTs) s.minTs = tsMs
        if (tsMs > s.maxTs) s.maxTs = tsMs
      }

    private def event(tpe: Byte, tsMs: Long)(body: DataOutputStream => Unit): Unit = {
      val buf = new java.io.ByteArrayOutputStream()
      val d = new DataOutputStream(buf)
      body(d); d.flush()
      out.writeByte(tpe); out.writeLong(tsMs); out.writeInt(buf.size())
      buf.writeTo(out)
      if (tsMs < minTs) minTs = tsMs
      if (tsMs > maxTs) maxTs = tsMs
    }

    def tableMap(tsMs: Long, tableId: Long, db: String, table: String, schema: StructType): Unit = {
      tableNames(tableId) = (db, table)
      // register the mapping itself (rows stay 0 until row events):
      // catalog listing can then serve mapped-but-rowless tables from
      // the sidecar alone, and pruning is unaffected (it requires
      // rows > 0)
      tableStats.getOrElseUpdate((db, table), TableStats())
      event(EventType.TableMap, tsMs) { d =>
        d.writeLong(tableId); writeStr(d, db); writeStr(d, table)
        d.writeInt(schema.length)
        schema.fields.foreach { f =>
          writeStr(d, f.name)
          d.writeByte(CdcSchema.Tag.of(f.dataType))
          f.dataType match {
            case dt: DecimalType => d.writeByte(dt.precision); d.writeByte(dt.scale)
            case _ => d.writeByte(0); d.writeByte(0)
          }
        }
      }
    }

    /** GTID event = gno + the originating server's id (the full MySQL
      * `server_uuid:gno` identity; the reference keeps only the gno —
      * binlog_table_reader.h:32). Readers tolerate the old 8-byte
      * payload by synthesizing [[CdcSchema.AnonymousSourceId]]. */
    def gtid(tsMs: Long, gno: Long,
        sourceId: String = CdcSchema.AnonymousSourceId): Unit = {
      if (gno < minGtid) minGtid = gno
      if (gno > maxGtid) maxGtid = gno
      currentGtid = gno
      event(EventType.Gtid, tsMs) { d => d.writeLong(gno); writeStr(d, sourceId) }
    }

    def writeRows(tsMs: Long, tableId: Long, schema: StructType, rows: Seq[Array[Any]]): Unit =
      rowsEvent(EventType.WriteRows, tsMs, tableId, schema, rows)

    def deleteRows(tsMs: Long, tableId: Long, schema: StructType, rows: Seq[Array[Any]]): Unit =
      rowsEvent(EventType.DeleteRows, tsMs, tableId, schema, rows)

    /** Update event: interleaved before/after images, the reference's
      * layout intent (binlog_table_reader.cc:321-323). */
    def updateRows(tsMs: Long, tableId: Long, schema: StructType,
        pairs: Seq[(Array[Any], Array[Any])]): Unit = {
      countRows(tableId, pairs.length * 2L, tsMs) // before + after images
      event(EventType.UpdateRows, tsMs) { d =>
        d.writeLong(tableId); d.writeInt(pairs.length)
        pairs.foreach { case (before, after) =>
          writeRow(d, schema, before); writeRow(d, schema, after)
        }
      }
    }

    def rotate(tsMs: Long, nextFile: String): Unit =
      event(EventType.Rotate, tsMs)(writeStr(_, nextFile))

    private def rowsEvent(tpe: Byte, tsMs: Long, tableId: Long, schema: StructType,
        rows: Seq[Array[Any]]): Unit = {
      countRows(tableId, rows.length.toLong, tsMs)
      event(tpe, tsMs) { d =>
        d.writeLong(tableId); d.writeInt(rows.length)
        rows.foreach(writeRow(d, schema, _))
      }
    }

    private def writeStr(d: DataOutputStream, s: String): Unit = {
      val b = s.getBytes(StandardCharsets.UTF_8)
      d.writeInt(b.length); d.write(b)
    }

    /** Row = null bitmap (packed, like Bit_reader at
      * binlog_table_reader.cc:191) then non-null values in column order. */
    private def writeRow(d: DataOutputStream, schema: StructType, vals: Array[Any]): Unit = {
      require(vals.length == schema.length, s"row arity ${vals.length} != ${schema.length}")
      val nullBits = new Array[Byte]((schema.length + 7) / 8)
      var i = 0
      while (i < vals.length) {
        if (vals(i) == null) nullBits(i / 8) = (nullBits(i / 8) | (1 << (i % 8))).toByte
        i += 1
      }
      d.write(nullBits)
      i = 0
      while (i < vals.length) {
        if (vals(i) != null) writeValue(d, schema(i).dataType, vals(i))
        i += 1
      }
    }

    private def writeValue(d: DataOutputStream, dt: DataType, v: Any): Unit = dt match {
      case LongType => d.writeLong(v.asInstanceOf[Long])
      case IntegerType => d.writeInt(v.asInstanceOf[Int])
      case DoubleType => d.writeDouble(v.asInstanceOf[Double])
      case StringType =>
        val b = v match {
          case u: UTF8String => u.getBytes
          case s: String => s.getBytes(StandardCharsets.UTF_8)
        }
        d.writeInt(b.length); d.write(b)
      case TimestampType | TimestampNTZType => d.writeLong(v.asInstanceOf[Long]) // micros
      case BinaryType =>
        val b = v.asInstanceOf[Array[Byte]]; d.writeInt(b.length); d.write(b)
      case DateType => d.writeInt(v.asInstanceOf[Int])
      case FloatType => d.writeFloat(v.asInstanceOf[Float])
      case ShortType => d.writeShort(v.asInstanceOf[Short])
      case ByteType => d.writeByte(v.asInstanceOf[Byte])
      case BooleanType => d.writeBoolean(v.asInstanceOf[Boolean])
      case _: DecimalType =>
        val dec = v.asInstanceOf[Decimal].toJavaBigDecimal
        d.writeInt(dec.scale())
        val b = dec.unscaledValue().toByteArray
        d.writeInt(b.length); d.write(b)
      case other => throw new IllegalArgumentException(s"unsupported CDC type: $other")
    }

    /** Close + write the pruning sidecar: per-file (min,max) of
      * (__gtid, event time) lets the planner skip whole files for
      * gtid/time-range predicates (SURVEY §4.3 partition pruning). */
    def close(): Unit = {
      out.close()
      // a sidecar is published when a gtid was logged, or for a
      // mapped-but-ROWLESS file (sentinel gtid bounds — such a file
      // correctly prunes from every gtid-range scan, and its c-lines
      // keep catalog listing sidecar-only). Rows WITHOUT any gtid stay
      // sidecar-less: fabricating gtid-0 bounds would let COUNT/MIN
      // pushdown answer from metadata while a scan of the same log
      // fails loud on rows-before-GTID.
      if (maxGtid >= minGtid ||
          (tableStats.nonEmpty && tableStats.values.forall(_.rows == 0))) {
        // names are URL-encoded: a db/table containing whitespace (legal
        // in MySQL, handled fine by the length-prefixed log itself)
        // would otherwise break the whitespace-split sidecar line and
        // silently read back as "zero rows"
        val stats = tableStats.toSeq.sortBy(t => (t._1._1, t._1._2))
          .map { case ((db, tbl), s) =>
            s"c ${enc(db)} ${enc(tbl)} ${s.rows} ${s.minGtid} ${s.maxGtid} ${s.minTs} ${s.maxTs}"
          }
        // atomic publish (temp + move): a reader must never observe a
        // torn sidecar — a truncated c-line could misparse as a smaller
        // count and silently corrupt aggregate pushdown
        val target = java.nio.file.Paths.get(path + ".meta")
        val tmp = java.nio.file.Paths.get(
          path + s".meta.tmp-${ProcessHandle.current().pid()}")
        java.nio.file.Files.writeString(tmp,
          (s"v2 $minGtid $maxGtid $minTs $maxTs" +: stats).mkString("", "\n", "\n"))
        try java.nio.file.Files.move(tmp, target,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        catch { case _: java.nio.file.AtomicMoveNotSupportedException =>
          java.nio.file.Files.move(tmp, target,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        }
      }
    }
  }

  private def enc(s: String): String =
    java.net.URLEncoder.encode(s, StandardCharsets.UTF_8)
  private def dec(s: String): String =
    java.net.URLDecoder.decode(s, StandardCharsets.UTF_8)

  /** Per-table sidecar stats: emitted rows + min/max (gtid, event ms). */
  final case class TableStats(var rows: Long = 0L,
      var minGtid: Long = Long.MaxValue, var maxGtid: Long = Long.MinValue,
      var minTs: Long = Long.MaxValue, var maxTs: Long = Long.MinValue)

  /** Sentinel (min,max) event-time bounds for file metadata derived
    * from sources that carry gtid information only (MySQL
    * PREVIOUS_GTIDS): wide enough to never prune on __tm, small enough
    * that millisToMicros cannot overflow. */
  val TsUnknownLoMs: Long = -9000000000000000L
  val TsUnknownHiMs: Long = 9000000000000000L

  /** Pruning sidecar contents, if present. Times in epoch millis.
    * `tables` (v2 sidecars) maps each table to its per-table stats —
    * None for v1 sidecars, whose stats are unknown (a table absent from
    * a v2 map genuinely has zero rows in the file). */
  final case class FileMeta(minGtid: Long, maxGtid: Long, minTsMs: Long, maxTsMs: Long,
      tables: Option[Map[(String, String), TableStats]] = None)

  def readMeta(logPath: String): Option[FileMeta] = {
    val p = logPath + ".meta"
    if (!LogFs.exists(p)) None
    else try { // any torn/malformed sidecar -> None (skip pruning), never crash the scan
      val lines = LogFs.readUtf8(p).trim.linesIterator.toSeq
      lines.headOption.map(_.split("\\s+")) match {
        case Some(Array("v1", a, b, c, d)) =>
          Some(FileMeta(a.toLong, b.toLong, c.toLong, d.toLong))
        case Some(Array("v2", a, b, c, d)) =>
          // STRICT: every tail line must be a full 8-field c-line — a
          // malformed line invalidates the whole sidecar (None -> the
          // scan declines pushdown and decodes), because a truncated
          // line that "mostly" parses would yield silently wrong counts
          val parsed = lines.tail.filter(_.nonEmpty).map(_.split("\\s+") match {
            case Array("c", db, tbl, n, g0, g1, t0, t1) =>
              Some((dec(db), dec(tbl)) ->
                TableStats(n.toLong, g0.toLong, g1.toLong, t0.toLong, t1.toLong))
            case _ => None
          })
          if (parsed.exists(_.isEmpty)) None
          else Some(FileMeta(a.toLong, b.toLong, c.toLong, d.toLong,
            Some(parsed.map(_.get).toMap)))
        case _ => None
      }
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  // ---------------------------------------------------------------- reader

  /** Raw event view: header fields + payload bytes. `pos` is the byte
    * offset of the event header — the streaming offset unit (§2.C). */
  /** One raw log event. `serverId` is the v4 header's originating
    * server id — 0 where the format has none (GCDC) or the reader
    * predates it; only the MariaDB decoder consumes it (the
    * domain-SERVER-seq gtid triple names its writer in the header,
    * unlike MySQL's in-payload uuid). */
  final case class RawEvent(tpe: Byte, tsMs: Long, payload: Array[Byte],
      pos: Long, endPos: Long, serverId: Long = 0L)

  /** Sequential raw-event reader over one log file (the GCDC
    * [[RawEventSource]] — see BinlogAdapter.scala for the seam a real
    * MySQL-binlog reader implements instead). */
  final class EventReader(path: String) extends RawEventSource {
    // Hadoop-FS routed (LogFs): executors must be able to open
    // scheme-qualified log roots — see LogFs for the deployment story
    private val fileLen = LogFs.lenOrZero(path)
    private val in = new DataInputStream(LogFs.open(path))
    require(in.readInt() == Magic, s"$path: bad magic")
    require(in.readInt() == Version, s"$path: bad version")
    private var pos: Long = HeaderLen
    private var nextEvent: RawEvent = _
    private var done = false

    private def advance(): Unit = {
      try {
        val tpe = in.readByte()
        val tsMs = in.readLong()
        val len = in.readInt()
        // ALLOCATION GUARD: len is attacker/corruption-controlled bytes;
        // a flipped high bit would otherwise pre-allocate up to 2 GiB
        // before readFully ever hits EOF. A length beyond the file's
        // remaining bytes can only be a torn tail or corruption — fail
        // via EOF semantics (stop at the last complete event).
        if (len < 0 || len > fileLen - pos - EventHeaderLen) throw new EOFException()
        val payload = new Array[Byte](len)
        in.readFully(payload)
        val start = pos
        pos += EventHeaderLen + len
        nextEvent = RawEvent(tpe, tsMs, payload, start, pos)
      } catch { case _: EOFException => done = true; nextEvent = null }
    }

    def hasNext: Boolean = { if (nextEvent == null && !done) advance(); nextEvent != null }
    def next(): RawEvent = { if (!hasNext) throw new NoSuchElementException; val e = nextEvent; nextEvent = null; e }
    def close(): Unit = in.close()
  }

  /** Index file → ordered log file list (reference:
    * binlog_table_reader.cc:12-19; tolerates trailing newline). Relative
    * entries resolve against the index file's directory. */
  def readIndex(indexFile: String): Seq[String] =
    LogFs.readUtf8(indexFile).linesIterator.map(_.trim).filter(_.nonEmpty)
      .map(l => LogFs.resolveSibling(indexFile, l)).toList

  // ------------------------------------------------------------- row decode

  /** Big-endian cursor over one event payload — the decoder's hot path.
    * Replaces per-value DataInputStream reads (each 8-byte long = eight
    * stream calls with their own bounds checks): the MySQL-format
    * decoder's cursor measured 2.3× the stream-based decode at the 4M-row
    * smoke, and this is the same win for the GCDC format. Bounds safety
    * comes from the array itself (a truncated payload throws
    * ArrayIndexOutOfBounds, surfaced as a decode error — the EventReader
    * already guarantees whole payloads), and every count or length read
    * from the payload passes [[len]] before it sizes anything. `pos` is
    * the event's log offset, for the error. */
  private final class BeCur(val a: Array[Byte], pos: Long) {
    var p = 0
    def u8(): Int = { val v = a(p) & 0xff; p += 1; v }
    def s8(): Byte = { val v = a(p); p += 1; v }
    def i16(): Short = {
      val v = (((a(p) & 0xff) << 8) | (a(p + 1) & 0xff)).toShort; p += 2; v
    }
    def i32(): Int = {
      val v = ((a(p) & 0xff) << 24) | ((a(p + 1) & 0xff) << 16) |
        ((a(p + 2) & 0xff) << 8) | (a(p + 3) & 0xff)
      p += 4; v
    }
    def i64(): Long = {
      var v = 0L; var i = 0
      while (i < 8) { v = (v << 8) | (a(p + i) & 0xffL); i += 1 }
      p += 8; v
    }
    def f32(): Float = java.lang.Float.intBitsToFloat(i32())
    def f64(): Double = java.lang.Double.longBitsToDouble(i64())
    def bool(): Boolean = u8() != 0
    /** `n` as a count or length of what follows: a corrupted field
      * must fail here, not size an array of up to 2 GiB
      * (`copyOfRange` zero-pads past the payload) or a view past it. */
    def len(n: Int): Int = {
      if (n < 0 || n > a.length - p) throw new java.io.IOException(
        s"corrupt event at log offset $pos: count or length $n with " +
          s"${a.length - p} payload bytes left")
      n
    }
    def bytes(n: Int): Array[Byte] = {
      val b = java.util.Arrays.copyOfRange(a, p, p + len(n)); p += n; b
    }
    def str(): String = {
      val n = len(i32())
      val s = new String(a, p, n, StandardCharsets.UTF_8); p += n; s
    }
    def utf8(): UTF8String = {
      val n = len(i32())
      val s = UTF8String.fromBytes(a, p, n); p += n; s
    }
    def skip(n: Int): Unit = p += len(n)
  }

  /** Stateful decoder: feed raw events in log order, get CDC rows for the
    * target (db, table). State = per-table-id TABLE_MAP schemas + the
    * current transaction GTID (binlog_table_reader.cc:393-416).
    *
    * @param needed column-pruning mask over source column indices: when
    *               `needed(i)` is false the value bytes are skipped, not
    *               materialized (Spark's SupportsPushDownRequiredColumns
    *               reaching into the decoder, SURVEY.md §4.3).
    * @param driftEpochs opt-in schema-drift policy: instead of failing
    *               loud on a non-additive TABLE_MAP disagreement, each
    *               TABLE_MAP opens a decode EPOCH mapped onto the query
    *               schema by name — a column with the same (name, type)
    *               in both schemas flows through, a renamed / re-typed /
    *               dropped column reads as null for that epoch's rows,
    *               and epoch-only columns are byte-skipped. One query
    *               then spans any ALTER TABLE boundary; the per-epoch
    *               null semantics are deterministic (cdc20's oracle).
    */
  /** Pre-resolved per-column value type codes — the readRow hot loop's
    * dispatch is an Int tableswitch over these instead of a DataType
    * pattern match per cell. */
  private object TC {
    final val L = 0; final val I = 1; final val D = 2
    final val S = 3; final val Ts = 4; final val B = 5
    final val Dt = 6; final val F = 7; final val Sh = 8
    final val By = 9; final val Bo = 10; final val Dec = 11
  }

  private def tcode(dt: DataType): Int = dt match {
    case LongType => TC.L
    case IntegerType => TC.I
    case DoubleType => TC.D
    case StringType => TC.S
    case TimestampType | TimestampNTZType => TC.Ts
    case BinaryType => TC.B
    case DateType => TC.Dt
    case FloatType => TC.F
    case ShortType => TC.Sh
    case ByteType => TC.By
    case BooleanType => TC.Bo
    case _: DecimalType => TC.Dec
    case other => throw new IllegalArgumentException(s"unsupported CDC type: $other")
  }

  final class RowDecoder(targetDb: String, targetTable: String,
      needed: Int => Boolean = _ => true,
      expectedSchema: Option[StructType] = None,
      driftEpochs: Boolean = false) extends CdcRowDecoder {
    private val expectedWidth: Int = expectedSchema.map(_.length).getOrElse(-1)

    /** A table id's map in force and, for the target table, its decode
      * plan, worked out once per TABLE_MAP as the MySQL decoder does:
      * each column's value type code (the per-cell dispatch is an Int
      * tableswitch, not a DataType match), which declared columns the
      * query reads (`need`), the row position each lands in (`target`)
      * and the row width. Under an epoch plan (shared with the MySQL
      * decoder, [[buildEpochPlan]]: one drift policy) the wire stays in
      * DECLARED order and each value lands at its expected position. */
    private final class MappedTable(val db: String, val table: String,
        val schema: StructType, plan: EpochPlan, isTarget: Boolean) {
      val codes: Array[Int] = schema.fields.map(f => tcode(f.dataType))
      private val n = if (isTarget) codes.length else 0
      val need: Array[Boolean] =
        if (plan != null) plan.declaredNeeded else Array.tabulate(n)(needed)
      val target: Array[Int] = if (plan != null) plan.target else Array.range(0, n)
      val rowWidth: Int = if (expectedWidth >= 0) expectedWidth else codes.length
    }
    private val tableMaps = scala.collection.mutable.Map.empty[Long, MappedTable]
    private var currentGtid: Long = 0L
    private var currentSourceId: UTF8String =
      UTF8String.fromString(CdcSchema.AnonymousSourceId)
    // a spliced/truncated log can open with rows before any GTID event;
    // stamping the initial 0L would be a fabricated transaction identity
    // (same corruption class the mysql decoder's identity scope closes,
    // in this closed format reachable only through log surgery)
    private var seenGtid = false

    def decode(ev: RawEvent, sink: RowSink): Unit = {
      val d = new BeCur(ev.payload, ev.pos)
      ev.tpe match {
        case EventType.TableMap =>
          val tableId = d.i64()
          val db = d.str(); val table = d.str()
          val n = d.len(d.i32())
          val fields = (0 until n).map { _ =>
            val name = d.str()
            val tag = d.s8(); val p = d.s8(); val s = d.s8()
            StructField(name, CdcSchema.Tag.toDataType(tag, p, s))
          }
          // Fix of reference defect #2: id and schema recorded atomically,
          // keyed by id, only consulted when the id maps to the target.
          val schema = StructType(fields)
          // Schema-drift policy (SURVEY §7.3.3): Spark's per-query schema
          // is fixed. ADDITIVE evolution is tolerated — a TABLE_MAP whose
          // (name, type) fields are a strict prefix of the expected
          // schema decodes normally and the missing trailing (nullable)
          // columns pad with null, so one query spans an `ALTER TABLE
          // ADD COLUMN` boundary (inference returns the newest schema).
          // Any other disagreement — rename, type change, drop, insert
          // in the middle — would silently corrupt decode (the
          // reference's behavior): fail loud with position context.
          val isTarget = db == targetDb && table == targetTable
          val plan = expectedSchema.filter(_ => isTarget).fold(null: EpochPlan) { exp =>
            // names + types define decode compatibility (nullability
            // and metadata don't affect the byte layout)
            val got = schema.fields.map(f => (f.name, f.dataType)).toSeq
            val expP = exp.fields.map(f => (f.name, f.dataType)).toSeq
            val additive = got.length < expP.length &&
              expP.take(got.length) == got &&
              exp.fields.drop(got.length).forall(_.nullable)
            if (got == expP || additive) null
            else if (driftEpochs)
              buildEpochPlan(exp,
                schema.fields.map(_.name), schema.fields.map(_.dataType),
                needed)
            else
              throw new IllegalStateException(
                s"schema drift for $db.$table at log offset ${ev.pos}: " +
                  s"stream declares ${schema.simpleString}, query expects ${exp.simpleString}; " +
                  "restart the query to pick up the new schema " +
                  "(or read with option schemaDrift=epochs)")
          }
          tableMaps(tableId) = new MappedTable(db, table, schema, plan, isTarget)
        case EventType.Gtid =>
          currentGtid = d.i64()
          seenGtid = true
          // legacy 8-byte payloads (pre-source-id logs) synthesize the
          // anonymous id; the payload is self-delimiting so the length
          // check is exact, not a guess
          currentSourceId =
            if (ev.payload.length > 8) UTF8String.fromString(d.str())
            else UTF8String.fromString(CdcSchema.AnonymousSourceId)
        case EventType.WriteRows => rows(d, ev, sink, CdcSchema.Op.Insert)
        case EventType.DeleteRows => rows(d, ev, sink, CdcSchema.Op.Delete)
        case EventType.UpdateRows => rows(d, ev, sink, CdcSchema.Op.UpdateBefore)
        case _ => // Rotate + unknown: skipped like the ref's default branch
      }
    }

    /** One rows event of the target table (the source-side table-identity
      * predicate, binlog_table_reader.cc:178) into `sink`; other tables'
      * events are not read past their table id. An update's row count is
      * of before/after PAIRS, emitted atomically so a micro-batch can
      * never split them (unlike the reference's cross-call stash at
      * binlog_table_reader.cc:385-388). */
    private def rows(d: BeCur, ev: RawEvent, sink: RowSink, op: Int): Unit = {
      val tableId = d.i64()
      tableMaps.get(tableId) match {
        case Some(tm) if tm.db == targetDb && tm.table == targetTable =>
          if (!seenGtid) throw new java.io.IOException(
            s"rows event for $targetDb.$targetTable at log offset ${ev.pos} " +
              "before any GTID event: a spliced or mid-transaction-truncated " +
              "log cannot yield a truthful __gtid")
          val tmMicros = DateTimeUtils.millisToMicros(ev.tsMs)
          val width = tm.rowWidth
          val n = d.len(d.i32())
          // each image's byte offset in the file: __pos
          val payloadPos = ev.pos + EventHeaderLen
          var r = 0
          while (r < n) {
            if (op == CdcSchema.Op.UpdateBefore) {
              readRow(d, tm, sink,
                sink.begin(op, currentGtid, tmMicros, currentSourceId, null,
                  width, payloadPos + d.p))
              readRow(d, tm, sink,
                sink.begin(CdcSchema.Op.UpdateAfter, currentGtid, tmMicros,
                  currentSourceId, null, width, payloadPos + d.p))
            } else readRow(d, tm, sink,
              sink.begin(op, currentGtid, tmMicros, currentSourceId, null,
                width, payloadPos + d.p))
            r += 1
          }
        case _ =>
      }
    }

    /** One row image into `sink` when `keep` (the sink's `begin` took the
      * row), byte-skipped otherwise. The row is laid out in the DECLARED
      * schema order; `tm`'s plan says which values are read and where
      * each lands. */
    private def readRow(d: BeCur, tm: MappedTable, sink: RowSink,
        keep: Boolean): Unit = {
      val codes = tm.codes; val need = tm.need; val target = tm.target
      val n = codes.length
      val nullStart = d.p
      d.skip((n + 7) / 8)
      var i = 0
      while (i < n) {
        val isNull = (d.a(nullStart + i / 8) & (1 << (i % 8))) != 0
        if (!isNull) {
          if (keep && need(i)) readValue(d, codes(i), tm.schema, i, target(i), sink)
          else skipValue(d, codes(i))
        }
        i += 1
      }
      if (keep) sink.end()
    }

    private def skipValue(d: BeCur, code: Int): Unit = (code: @annotation.switch) match {
      case TC.L | TC.D | TC.Ts => d.skip(8)
      case TC.I | TC.Dt | TC.F => d.skip(4)
      case TC.Sh => d.skip(2)
      case TC.By | TC.Bo => d.skip(1)
      case TC.S | TC.B => d.skip(d.i32())
      case TC.Dec => d.skip(4); d.skip(d.i32())
      case _ => throw new IllegalStateException(s"bad type code $code")
    }

    private def readValue(d: BeCur, code: Int, schema: StructType, i: Int,
        col: Int, sink: RowSink): Unit = (code: @annotation.switch) match {
      case TC.L | TC.Ts => sink.setLong(col, d.i64())
      case TC.I | TC.Dt => sink.setInt(col, d.i32())
      case TC.D => sink.setDouble(col, d.f64())
      case TC.S | TC.B =>
        val n = d.len(d.i32())
        if (code == TC.S) sink.setUtf8(col, d.a, d.p, n)
        else sink.setBinary(col, d.a, d.p, n)
        d.p += n
      case TC.F => sink.setFloat(col, d.f32())
      case TC.Sh => sink.setShort(col, d.i16())
      case TC.By => sink.setByte(col, d.s8())
      case TC.Bo => sink.setBoolean(col, d.bool())
      case TC.Dec =>
        val dec = schema(i).dataType.asInstanceOf[DecimalType]
        val scale = d.i32()
        val n = d.len(d.i32())
        sink.setDecimal(col, Decimal(new java.math.BigDecimal(
          new java.math.BigInteger(d.bytes(n)), scale), dec.precision, dec.scale))
      case _ => throw new IllegalStateException(s"bad type code $code")
    }
  }

  /** Last complete-event boundary in a log file. A producer (mysqld)
    * appends events non-atomically, so the file tail may hold a torn
    * event; streaming offsets must never point past the last COMPLETE
    * event or the torn event would be skipped forever once finished
    * (it would sit below the recorded start offset). O(events) scan —
    * a deployment caches (path, length) → boundary. */
  def lastCompleteOffset(path: String): Long = {
    if (LogFs.lenOrZero(path) < HeaderLen) return HeaderLen.toLong
    val r = try new EventReader(path) catch {
      // shrank below its header after the length check (a producer
      // rewriting the file): the short-file answer above; the stream's
      // monotonic guard keeps its offset until the file is whole again
      case _: java.io.EOFException => return HeaderLen.toLong
    }
    try {
      var end = HeaderLen.toLong
      while (r.hasNext) end = r.next().endPos
      end
    } catch {
      case _: Exception => HeaderLen.toLong // unreadable header etc.
    } finally r.close()
  }

  /** Parse a TABLE_MAP payload into (db, table, schema). */
  def parseTableMap(payload: Array[Byte]): (String, String, StructType) = {
    val d = new DataInputStream(new java.io.ByteArrayInputStream(payload))
    d.readLong() // tableId
    def str(): String = {
      val b = new Array[Byte](d.readInt()); d.readFully(b)
      new String(b, StandardCharsets.UTF_8)
    }
    val db = str(); val table = str()
    val n = d.readInt()
    val fields = (0 until n).map { _ =>
      val name = str()
      val tag = d.readByte(); val p = d.readByte(); val s = d.readByte()
      StructField(name, CdcSchema.Tag.toDataType(tag, p, s))
    }
    (db, table, StructType(fields))
  }

  /** Resolve the target table's schema by scanning for its first matching
    * TABLE_MAP (used for DataSourceV2 schema inference). */
  /** Newest schema wins: files are scanned newest-first and the LAST
    * matching TABLE_MAP within a file is kept, so a log spanning an
    * additive `ALTER TABLE ADD COLUMN` infers the post-ALTER schema
    * (older files then decode with null-padded trailing columns — see
    * RowDecoder's drift policy). Cost: reads one file in the common
    * case. */
  def inferSourceSchema(indexFile: String, db: String, table: String): Option[StructType] = {
    readIndex(indexFile).reverseIterator.flatMap { f =>
      val r = new EventReader(f)
      try {
        var res: Option[StructType] = None
        while (r.hasNext) {
          val ev = r.next()
          if (ev.tpe == EventType.TableMap) {
            val (evDb, evTable, schema) = parseTableMap(ev.payload)
            if (evDb == db && evTable == table) res = Some(schema)
          }
        }
        res
      } finally r.close()
    }.nextOption()
  }

  /** Catalog listing: the union of every v2 sidecar's per-table keys
    * (tiny reads — the log itself never opens for CLOSED files; the
    * writer registers mappings at TABLE_MAP time, so mapped-but-rowless
    * tables are in there) plus a TABLE_MAP scan of EVERY sidecar-less
    * file that holds data (normally exactly one: the open file the
    * producer is appending — but a producer crash before close or a
    * pre-v2 sidecar cache leaves older files sidecar-less too, and a
    * table unique to one of those must still list; a mid-rotation
    * zero-byte or headerless tail is skipped by length, never opened).
    * Bounded I/O at any log size in the normal one-open-file case, and
    * routine rotation never changes what lists.
    * Compat note: sidecars written before mappings were registered
    * (pre-graft-cdc4 caches) only name tables WITH rows — a
    * mapped-but-rowless table in such a file doesn't list (it never
    * did); regenerate the sidecar by rewriting the log. */
  def listTables(indexFile: String): Seq[(String, String)] = {
    val files = readIndex(indexFile)
    if (files.isEmpty) return Nil
    val metas = files.map(readMeta)
    val fromSidecars = metas.flatMap(_.flatMap(_.tables).getOrElse(Map.empty).keys)
    val pending = files.zip(metas)
      .filter(!_._2.exists(_.tables.isDefined)).map(_._1)
    val scanned = pending.reverseIterator
      .filter(f => LogFs.lenOrZero(f) > HeaderLen) // racing rotation
      .map { f =>
        val r = new EventReader(f)
        try {
          val out = scala.collection.mutable.LinkedHashSet.empty[(String, String)]
          while (r.hasNext) {
            val ev = r.next()
            if (ev.tpe == EventType.TableMap) {
              val (db, table, _) = parseTableMap(ev.payload)
              out += ((db, table))
            }
          }
          out.toSeq
        } finally r.close()
      }.flatten.toSeq
    (fromSidecars ++ scanned).distinct
  }
}
