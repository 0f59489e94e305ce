package graft.cdc

import java.io.{BufferedOutputStream, EOFException, FileOutputStream, IOException}
import java.nio.charset.StandardCharsets
import java.util.zip.CRC32

import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Pure-JVM MySQL binlog v4 reader/decoder — the real wire format the
  * reference consumes (its event loop at
  * /root/reference/binlog_table_reader.cc:163-432 walks exactly these
  * byte layouts via libbinlogevents). No MySQL client library: the v4
  * framing is a plain public byte layout —
  *
  *   file   = 0xfe 'b' 'i' 'n' magic, then events back-to-back
  *   event  = 19-byte header [timestamp:u32le][type:u8][server_id:u32le]
  *            [event_size:u32le][log_pos:u32le][flags:u16le] + payload
  *            (+ trailing CRC32 when the FORMAT_DESCRIPTION event
  *            declares checksum algorithm 1)
  *
  * The subset decoded here is the reference's own working set:
  * FORMAT_DESCRIPTION (15), ROTATE (4), TABLE_MAP (19), GTID (33),
  * WRITE/UPDATE/DELETE_ROWS v2 (30/31/32); XID/QUERY and anything else
  * are skipped like the reference's default branch. Column types:
  * TINY/SHORT/LONG/LONGLONG (signed), FLOAT/DOUBLE, VARCHAR, BLOB,
  * DATE, TIMESTAMP2, DATETIME2, NEWDECIMAL — the `Field::unpack`
  * layouts the reference relies on (binlog_table_reader.cc:151-157),
  * hand-decoded. (MySQL has no boolean wire type — BOOLEAN is
  * TINYINT(1), surfaced as ByteType — so with NEWDECIMAL this covers
  * every GCDC-expressible column shape the real format can carry.)
  *
  * TABLE_MAP carries column TYPES but (unless the producer ran with
  * `binlog_row_metadata=FULL`) no column NAMES; the optional-metadata
  * TLV block (type 4 = COLUMN_NAME) supplies names when present. The
  * decoder matches the query schema by (name, type) when names exist,
  * positionally by type otherwise.
  *
  * [[MysqlBinlogAdapter]] plugs this into the engine through the
  * [[BinlogFormatAdapter]] seam: the DSv2 scan, pushdown, partition
  * planning, and streaming-offset layers are untouched — selecting
  * `.option("binlogFormat", "mysql")` swaps the byte decoder only.
  * [[MysqlBinlog.Writer]] is the fixture producer standing in for
  * mysqld (same role as [[CdcCodec.LogWriter]] for the GCDC format).
  */
object MysqlBinlog {

  val Magic: Array[Byte] = Array(0xfe.toByte, 'b'.toByte, 'i'.toByte, 'n'.toByte)
  val MagicLen = 4

  /** A producer-state diagnosis (encrypted log, MariaDB log): the file
    * is WHOLLY unreadable for a named reason — distinct from a torn
    * tail, which [[lastCompleteOffset]] legitimately degrades on. The
    * streaming frontier poll must rethrow these, not swallow them into
    * a silent zero-event frontier. */
  final class UnreadableLogException(msg: String)
    extends java.io.IOException(msg)
  val HeaderLen = 19

  object EventType {
    val Query = 2: Byte
    val Rotate = 4: Byte
    val FormatDescription = 15: Byte
    val Xid = 16: Byte
    val TableMap = 19: Byte
    // v1 rows events (5.1.15–5.6.x layout: no extra-data length field).
    // Not decoded — recognized only to fail loud for the target table
    // instead of silently decoding zero rows through the default arm.
    val WriteRowsV1 = 23: Byte
    val UpdateRowsV1 = 24: Byte
    val DeleteRowsV1 = 25: Byte
    // INCIDENT_EVENT: mysqld's explicit "an incident occurred on the
    // master, events may be missing" marker (e.g. LOST_EVENTS). Not
    // table-scoped, so NO table's reader may claim continuity past it.
    val Incident = 26: Byte
    // HEARTBEAT_LOG_EVENT(_V2): the dump connection's idle-liveness
    // signal — generated by the server, never stored in a file, and
    // never allowed to advance row or offset state (the replication
    // client drops both BEFORE re-framing the stream).
    val Heartbeat = 27: Byte
    val HeartbeatV2 = 41: Byte
    // ROWS_QUERY_LOG_EVENT (binlog_rows_query_log_events=ON): the
    // original statement text, written before each statement's
    // TABLE_MAPs. Body = 1 ignorable length byte + the query to
    // end-of-body (the byte caps at 255; readers use the event size).
    val RowsQuery = 29: Byte
    val WriteRowsV2 = 30: Byte
    val UpdateRowsV2 = 31: Byte
    val DeleteRowsV2 = 32: Byte
    val Gtid = 33: Byte
    val AnonymousGtid = 34: Byte
    val PartialUpdateRows = 39: Byte
    val PreviousGtids = 35: Byte
    val TransactionPayload = 40: Byte
    // XA_PREPARE_LOG_EVENT: mysqld logs XA PREPARE / one-phase XA
    // COMMIT as this BINARY event (not a QUERY statement) — it ends
    // the XA transaction's GTID scope exactly like the statement form.
    val XaPrepare = 38: Byte
    val GtidTagged = 42: Byte // MySQL 8.3+ GTID_TAGGED_LOG_EVENT
    // MariaDB-only event types (0xa0+). MariaDB shares the v4 header
    // framing, TABLE_MAP layout, and per-type value decode with MySQL
    // 5.5/5.6 but replaces the GTID layer: gtids are domain-server-seq
    // triples, GTID_EVENT doubles as the transaction opener (no BEGIN
    // QUERY event), GTID_LIST is the PREVIOUS_GTIDS analogue, and rows
    // events stay the V1 layout (no extra-data field).
    val MariaAnnotateRows = 0xa0.toByte     // 160: statement text
    val MariaBinlogCheckpoint = 0xa1.toByte // 161: ignorable bookkeeping
    val MariaGtid = 0xa2.toByte             // 162: seq_no u64, domain u32, flags2 u8
    val MariaGtidList = 0xa3.toByte         // 163: binlog state at file start
    val MariaStartEncryption = 0xa4.toByte  // 164: ciphertext follows
    // log_bin_compress=ON (MariaDB 10.2+): per-event zlib compression,
    // DECODED since round 13 ([[inflateMariaRecord]] — golden bytes in
    // MariaCompressedSpec, oracle cdc52). The V1 post-header (table id)
    // stays uncompressed, so non-target tables never pay inflation.
    val MariaQueryCompressed = 0xa5.toByte      // 165: compressed QUERY
    val MariaWriteRowsCompressed = 0xa6.toByte  // 166
    val MariaUpdateRowsCompressed = 0xa7.toByte // 167
    val MariaDeleteRowsCompressed = 0xa8.toByte // 168
  }

  /** TLV field types of TRANSACTION_PAYLOAD (MySQL 8.0.20+
    * binlog_transaction_compression — public one-the-wire codec):
    * lenenc type, lenenc length, value bytes; type 0 ends the header
    * and the (possibly compressed) inner event stream follows. */
  private val PayloadEndMark = 0L
  private val PayloadCompressionType = 2L
  private val PayloadUncompressedSize = 3L
  private val CompressionZstd = 0
  private val CompressionNone = 255
  /** Fail-loud bound on one decompressed transaction (mysqld rotates
    * files at 1 GiB; a single txn claiming more is corrupt). */
  private val MaxUncompressedTxn: Long = 1L << 30

  /** MySQL column type codes (enum_field_types — public protocol). */
  object ColType {
    val Tiny = 1
    val Short = 2
    val Long = 3
    val Float = 4
    val Double = 5
    val Timestamp = 7 // legacy (pre-5.6.4): 4-byte LE unix seconds
    val LongLong = 8
    val Int24 = 9 // MEDIUMINT: 3-byte LE two's complement
    val Date = 10
    val Time = 11 // legacy TIME: 3-byte LE signed ±(H*10000 + M*100 + S)
    val DateTime = 12 // legacy DATETIME: 8-byte LE decimal YYYYMMDDHHMMSS
    val Year = 13 // 1 byte, value - 1900 (0 = literal 0000)
    val Bit = 16 // big-endian bitfield, metadata = (bits%8, bits/8)
    val Timestamp2 = 17
    val Datetime2 = 18
    val Time2 = 19 // signed duration, ±838:59:59[.ffffff]
    val Varchar = 15
    val Json = 245 // binary JSON document (json_binary.h layout)
    val NewDecimal = 246
    val Enum = 247 // 1/2-byte 1-based member index (0 = invalid/empty)
    val SetT = 248 // 1-8 byte member bitmask, LSB = first member
    val Blob = 252
    val String254 = 254 // CHAR: fixed declared length, space-stripped
    val Geometry = 255 // length-prefixed 4-byte-SRID + WKB bytes

    /** Spark type for a wire type + its TABLE_MAP metadata. NEWDECIMAL
      * is the one type whose Spark shape depends on metadata (precision
      * and scale travel in the two meta bytes, packed here as
      * `(precision << 8) | scale`). UNSIGNED integers (SIGNEDNESS TLV)
      * widen one Spark type up so every value fits: u8→Short, u16→Int,
      * u32→Long, u64→DECIMAL(20,0) — the same surface mysql clients
      * present. */
    def toSpark(t: Int, meta: Int, unsigned: Boolean): DataType =
      if (!unsigned) toSpark(t, meta)
      else t match {
        case Tiny => ShortType
        case Short => IntegerType
        case Long => LongType
        case LongLong => DecimalType(20, 0)
        case _ => toSpark(t, meta) // float/double/decimal: layout unchanged
      }

    def toSpark(t: Int, meta: Int): DataType = t match {
      case Tiny => ByteType
      case Short => ShortType
      case Long => IntegerType
      case Float => FloatType
      case Double => DoubleType
      case LongLong => LongType
      // MEDIUMINT: both signednesses fit IntegerType (±2^23 / 0..2^24-1)
      case Int24 => IntegerType
      case Date => DateType
      // legacy temporals (pre-5.6.4 servers, still legal on the wire):
      // same Spark surfaces as their v2 successors
      case Timestamp => TimestampType
      case DateTime => TimestampNTZType
      case Time => LongType // signed microseconds, like Time2
      case Year => ShortType // the year number itself (1901-2155, or 0)
      case Bit => LongType // bitfield as a 64-bit mask (widths <= 64)
      case Timestamp2 => TimestampType
      case Datetime2 => TimestampNTZType
      // TIME is a SIGNED duration spanning ±838 h — outside any
      // time-of-day type; surfaces as signed microseconds (BIGINT),
      // the same honest widening mysql clients apply
      case Time2 => LongType
      case Varchar => StringType
      case String254 => StringType
      case NewDecimal => DecimalType(meta >> 8, meta & 0xff)
      case Blob => BinaryType
      // SRID + WKB bytes, surfaced opaque — the same honest widening
      // mysql clients apply (spatial interpretation is a reader concern)
      case Geometry => BinaryType
      case Json => StringType // decoded to canonical JSON text (JsonBinary)
      case other => throw new IllegalArgumentException(
        s"unsupported MySQL column type $other (subset: tiny/short/mediumint/" +
          "int/bigint/float/double/decimal/char/varchar/blob/json/date/year/" +
          "bit/enum/set/time/datetime/timestamp, legacy and v2 temporals)")
    }

    def fromSpark(dt: DataType): Int = dt match {
      case ByteType => Tiny
      case ShortType => Short
      case IntegerType => Long
      case FloatType => Float
      case DoubleType => Double
      case LongType => LongLong
      case DateType => Date
      case TimestampType => Timestamp2
      case TimestampNTZType => Datetime2
      case StringType => Varchar
      case _: DecimalType => NewDecimal
      case BinaryType => Blob
      case other => throw new IllegalArgumentException(
        s"no MySQL column type for Spark type $other" +
          (if (dt == BooleanType)
             " (MySQL has no boolean wire type: BOOLEAN is TINYINT(1) —" +
               " model the column as ByteType)"
           else ""))
    }

    // -------------------------------------------- NEWDECIMAL byte layout
    //
    // The packed format of decimal2bin/bin2decimal (public, strings/
    // decimal.cc; the reference reads it through Field_new_decimal::
    // unpack at binlog_table_reader.cc:151-157): digits in base 10^9,
    // one big-endian u32 per full 9-digit group, partial groups in the
    // minimal byte count; layout = [partial int][full int…][full frac…]
    // [partial frac]; negative values complement every byte; the first
    // byte's MSB is then flipped so it doubles as the sign bit.

    /** Bytes needed for d leading/trailing digits outside full groups. */
    val Dig2Bytes = Array(0, 1, 1, 2, 2, 3, 3, 4, 4)

    /** On-wire size of a DECIMAL(precision, scale) value. */
    def decimalBinSize(precision: Int, scale: Int): Int = {
      val intg = precision - scale
      intg / 9 * 4 + Dig2Bytes(intg % 9) + scale / 9 * 4 + Dig2Bytes(scale % 9)
    }
  }

  /** decimal2bin: pack `bd` (already at the target scale) into the
    * NEWDECIMAL wire bytes for DECIMAL(precision, scale). */
  def encodeDecimal(bd: java.math.BigDecimal, precision: Int,
      scale: Int): Array[Byte] = {
    require(bd.scale == scale, s"value scale ${bd.scale} != declared $scale")
    val negative = bd.signum() < 0
    val digits = bd.abs().unscaledValue().toString
    require(digits.length <= precision,
      s"$bd does not fit DECIMAL($precision,$scale)")
    val padded = "0" * (precision - digits.length) + digits
    val intg = precision - scale
    val out = new Array[Byte](ColType.decimalBinSize(precision, scale))
    var pos = 0
    def putBE(v: Long, n: Int): Unit = {
      var x = v; var i = n - 1
      while (i >= 0) { out(pos + i) = (x & 0xff).toByte; x >>= 8; i -= 1 }
      pos += n
    }
    val intgX = intg % 9
    if (intgX > 0) putBE(padded.substring(0, intgX).toLong, ColType.Dig2Bytes(intgX))
    var idx = intgX
    while (idx < intg) { putBE(padded.substring(idx, idx + 9).toLong, 4); idx += 9 }
    idx = intg
    val fracFullEnd = intg + scale / 9 * 9
    while (idx < fracFullEnd) { putBE(padded.substring(idx, idx + 9).toLong, 4); idx += 9 }
    val fracX = scale % 9
    if (fracX > 0) putBE(padded.substring(fracFullEnd).toLong, ColType.Dig2Bytes(fracX))
    if (negative) { var i = 0; while (i < out.length) { out(i) = (~out(i)).toByte; i += 1 } }
    out(0) = (out(0) ^ 0x80).toByte
    out
  }

  /** Optional-metadata TLV type codes in TABLE_MAP (MySQL 8.0,
    * `binlog_row_metadata=FULL`). Only the ones we consume. */
  private val MetaSignedness = 1
  private val MetaColumnName = 4
  private val MetaSetStrValue = 5
  private val MetaEnumStrValue = 6

  /** 10^0 .. 10^18: the digit bounds of long-backed decimals. */
  private val Pow10: Array[Long] = Array.iterate(1L, 19)(_ * 10)

  /** Days since 1970-01-01 of the proleptic-Gregorian date y-m-d (the
    * days-from-civil arithmetic, as `LocalDate.toEpochDay` counts); a
    * date no calendar has fails loud with the log offset. */
  private def epochDay(y: Int, m: Int, d: Int, what: String, pos: Long): Long = {
    val leap = (y % 4 == 0 && y % 100 != 0) || y % 400 == 0
    val monthDays =
      if (m == 2) (if (leap) 29 else 28)
      else if (m == 4 || m == 6 || m == 9 || m == 11) 30
      else 31
    if (m < 1 || m > 12 || d < 1 || d > monthDays) throw new IOException(
      s"$what at log offset $pos: impossible date $y-$m-$d")
    val yy = (if (m <= 2) y - 1 else y).toLong
    val era = Math.floorDiv(yy, 400L)
    val yoe = yy - era * 400 // [0, 399]
    val doy = (153 * ((m + 9) % 12) + 2) / 5 + d - 1 // March-based
    era * 146097 + yoe * 365 + yoe / 4 - yoe / 100 + doy - 719468
  }

  /** Micros since the epoch of a zone-less date and time of day, as
    * `DateTimeUtils.localDateTimeToMicros` counts them; an impossible
    * date or time fails loud with the log offset. */
  private def dateTimeMicros(y: Int, mo: Int, d: Int, h: Int, mi: Int, s: Int,
      what: String, pos: Long): Long = {
    if (h < 0 || h > 23 || mi < 0 || mi > 59 || s < 0 || s > 59)
      throw new IOException(
        s"$what at log offset $pos: impossible time of day $h:$mi:$s")
    (epochDay(y, mo, d, what, pos) * 86400L + h * 3600L + mi * 60L + s) * 1000000L
  }

  // ------------------------------------------------------------ byte cursor

  /** Little-endian cursor over one event payload. */
  private final class Cur(val a: Array[Byte], var p: Int, val end: Int) {
    def this(a: Array[Byte]) = this(a, 0, a.length)
    def remaining: Int = end - p
    def u8(): Int = { val v = a(p) & 0xff; p += 1; v }
    def u16(): Int = { val v = (a(p) & 0xff) | ((a(p + 1) & 0xff) << 8); p += 2; v }
    def u24(): Int = {
      val v = (a(p) & 0xff) | ((a(p + 1) & 0xff) << 8) | ((a(p + 2) & 0xff) << 16)
      p += 3; v
    }
    def u32(): Long = {
      val v = (a(p) & 0xffL) | ((a(p + 1) & 0xffL) << 8) |
        ((a(p + 2) & 0xffL) << 16) | ((a(p + 3) & 0xffL) << 24)
      p += 4; v
    }
    def u48(): Long = {
      var v = 0L; var i = 0
      while (i < 6) { v |= (a(p + i) & 0xffL) << (8 * i); i += 1 }
      p += 6; v
    }
    def i32(): Int = u32().toInt
    def i64(): Long = {
      var v = 0L; var i = 0
      while (i < 8) { v |= (a(p + i) & 0xffL) << (8 * i); i += 1 }
      p += 8; v
    }
    /** Big-endian unsigned read of n bytes (MySQL's *2 temporal types
      * are the one big-endian island in the protocol). */
    def beU(n: Int): Long = {
      var v = 0L; var i = 0
      while (i < n) { v = (v << 8) | (a(p + i) & 0xffL); i += 1 }
      p += n; v
    }
    /** Protocol length-encoded integer. */
    def lenenc(): Long = {
      val first = u8()
      if (first < 0xfb) first.toLong
      else if (first == 0xfc) u16().toLong
      else if (first == 0xfd) u24().toLong
      else if (first == 0xfe) i64()
      else throw new IOException(s"bad length-encoded integer prefix 0x${first.toHexString}")
    }
    def bytes(n: Int): Array[Byte] = {
      val b = java.util.Arrays.copyOfRange(a, p, p + n); p += n; b
    }
    def str(n: Int): String = {
      val s = new String(a, p, n, StandardCharsets.UTF_8); p += n; s
    }
    def skip(n: Int): Unit = p += n
  }

  // ---------------------------------------------------------------- reader

  /** Sequential raw-event reader over one MySQL binlog file. Emits
    * [[CdcCodec.RawEvent]] with `tpe` = the MySQL type code, `tsMs` =
    * header seconds ×1000, `pos`/`endPos` = on-disk byte offsets of the
    * event (the streaming-offset unit, same contract as the GCDC
    * reader). A torn tail — header or payload cut short by the
    * producer's in-flight append — ends iteration cleanly. When the
    * FORMAT_DESCRIPTION event declares CRC32 checksums, every
    * subsequent event's CRC is VERIFIED (fail loud on corruption) and
    * stripped, so downstream decoders never see checksum bytes. */
  /** The primary constructor takes the raw byte STREAM (magic + v4
    * events): files hand it `LogFs.open` via the public path
    * constructor below, and the replication-protocol client
    * ([[MysqlReplica]]) hands it the live dump stream re-framed as the
    * same byte layout — one reader, one CRC/FDE/flavor policy for both
    * ingestion modes. `path` is the diagnostic label. */
  final class EventReader private[cdc] (in: java.io.InputStream,
      path: String, maria: Boolean) extends RawEventSource {
    // Hadoop-FS routed (LogFs): scheme-qualified log roots work on
    // executors — see LogFs for the deployment story
    def this(path: String, maria: Boolean = false) =
      this(LogFs.open(path), path, maria)
    try {
      val m = in.readNBytes(MagicLen)
      // cut inside the magic: a truncated log (a producer mid-rewrite),
      // not a foreign file — lastCompleteOffset reads it as empty
      if (m.length < MagicLen)
        throw new EOFException(s"$path: ends inside its magic")
      // encrypted binlogs (binlog_encryption=ON, MySQL 8.0.14+) carry
      // their own magic 0xFD62696E ('.bin') ahead of an encryption
      // header — everything after it is ciphertext only the server's
      // keyring can open, so name the cause instead of "bad magic"
      if (m.length == MagicLen && m(0) == 0xfd.toByte &&
          m(1) == 'b'.toByte && m(2) == 'i'.toByte && m(3) == 'n'.toByte)
        throw new UnreadableLogException(
          s"$path: ENCRYPTED MySQL binlog (binlog_encryption=ON — magic " +
            "0xFD62696E): the event stream is ciphertext under the server's " +
            "keyring; decrypt on the producer side or disable " +
            "binlog_encryption for logs this reader consumes")
      require(java.util.Arrays.equals(m, Magic),
        s"$path: not a MySQL binlog (bad magic)")
    } catch {
      // constructor throws escape before any caller can close() —
      // release the stream or every failed open leaks a descriptor
      case e: Throwable => in.close(); throw e
    }
    private var pos: Long = MagicLen.toLong
    private var checksummed = false // set by the FORMAT_DESCRIPTION event
    private var sawFde = false
    private var nextEvent: CdcCodec.RawEvent = _
    private var done = false

    // reused per event: the payload is the only per-event allocation
    private val header = new Array[Byte](HeaderLen)
    private val crcBytes = new Array[Byte](4)
    private val crc = new CRC32()
    // events are read out of one unsynchronized buffer: three reads per
    // event through BufferedInputStream's synchronized ones cost ~15% of
    // a single-thread decode
    private val buf = new Array[Byte](1 << 16)
    private var bufPos = 0
    private var bufEnd = 0

    /** Up to `len` bytes into `dst` from `off`; fewer only at the end of
      * the stream. */
    private def read(dst: Array[Byte], off: Int, len: Int): Int = {
      var got = 0
      while (got < len) {
        if (bufPos == bufEnd) {
          if (len - got >= buf.length) return got + in.readNBytes(dst, off + got, len - got)
          bufPos = 0
          bufEnd = math.max(0, in.read(buf, 0, buf.length))
          if (bufEnd == 0) return got
        }
        val n = math.min(len - got, bufEnd - bufPos)
        System.arraycopy(buf, bufPos, dst, off + got, n)
        bufPos += n
        got += n
      }
      got
    }

    private def advance(): Unit = {
      if (read(header, 0, HeaderLen) < HeaderLen) {
        done = true; nextEvent = null; return
      }
      val h = new Cur(header)
      val tsSec = h.u32()
      val tpe = h.u8().toByte
      // every real binlog's first event is its FORMAT_DESCRIPTION (it
      // declares the checksum algorithm the rest of the file is read
      // under) — anything else means a misaligned or corrupt file, and
      // decoding on silently would skip CRC verification entirely
      if (!sawFde) {
        if (tpe != EventType.FormatDescription)
          throw new IOException(s"$path: first event is type $tpe, not " +
            "FORMAT_DESCRIPTION — misaligned or corrupt binlog")
        sawFde = true
      }
      val serverId = h.u32()
      val eventSize = h.u32()
      h.u32() // log_pos (end position; derivable, not trusted)
      h.u16() // flags
      if (eventSize < HeaderLen) { done = true; nextEvent = null; return }
      val bodyLen = (eventSize - HeaderLen).toInt
      // a checksummed body reads straight into its exact-size payload,
      // then the 4 CRC bytes; the FORMAT_DESCRIPTION event declares the
      // algorithm itself, so it is read whole and split below
      val crcLen = if (checksummed && tpe != EventType.FormatDescription) 4 else 0
      if (bodyLen < crcLen)
        throw new IOException(s"$path: checksummed event shorter than its CRC")
      val body = readBody(bodyLen - crcLen)
      if (body == null || read(crcBytes, 0, crcLen) < crcLen) {
        done = true; nextEvent = null; return // torn tail
      }
      val start = pos
      pos += eventSize

      // FORMAT_DESCRIPTION declares the checksum algorithm for the rest
      // of the file (alg byte sits 5 bytes from the event end; the FDE
      // itself is checksummed under the alg it declares).
      var payload = body
      if (tpe == EventType.FormatDescription) {
        val c = new Cur(body)
        val binlogVersion = c.u16()
        require(binlogVersion == 4, s"$path: binlog version $binlogVersion (need v4)")
        // server_version: 50 bytes, NUL-padded ASCII — the FLAVOR
        // check. MariaDB shares the v4 framing but replaces the GTID
        // layer (GTID_LIST/MARIADB_GTID, types 160+) and keeps V1 rows
        // events, so reading one flavor with the other's decoder would
        // fail later as "no live transaction identity" — name the real
        // cause (and the option that fixes it) here at the FDE instead
        val ver = new String(body, 2, 50,
          java.nio.charset.StandardCharsets.US_ASCII).takeWhile(_ != 0)
        val verIsMaria = ver.toLowerCase.contains("mariadb")
        if (verIsMaria && !maria)
          throw new UnreadableLogException(
            s"$path: MariaDB binlog (server version '$ver'): MariaDB " +
              "replaces the MySQL GTID events with its own " +
              "GTID_LIST/MARIADB_GTID layer — read it with " +
              "binlogFormat=mariadb")
        if (!verIsMaria && maria)
          throw new UnreadableLogException(
            s"$path: MySQL binlog (server version '$ver') opened with " +
              "binlogFormat=mariadb: the MySQL GTID layer (types 33-42) " +
              "is not the MariaDB one — read it with binlogFormat=mysql")
        c.skip(50) // server_version
        c.u32() // create_timestamp
        val commonHeaderLen = c.u8()
        require(commonHeaderLen == HeaderLen,
          s"$path: common header length $commonHeaderLen (need $HeaderLen)")
        val alg = if (body.length >= 5) body(body.length - 5) & 0xff else 0
        require(alg <= 1, s"$path: unsupported binlog checksum algorithm $alg")
        checksummed = alg == 1
        if (checksummed) {
          payload = java.util.Arrays.copyOf(body, body.length - 4)
          System.arraycopy(body, body.length - 4, crcBytes, 0, 4)
          verifyCrc(payload, start)
        }
      } else if (checksummed) verifyCrc(payload, start)
      // MariaDB encrypted binlog (encrypt_binlog=ON): START_ENCRYPTION
      // right after the FDE, everything later is ciphertext under the
      // server's key file — the MySQL twin of the 0xFD magic check
      if (tpe == EventType.MariaStartEncryption)
        throw new UnreadableLogException(
          s"$path: ENCRYPTED MariaDB binlog (encrypt_binlog=ON — " +
            "START_ENCRYPTION event): the event stream is ciphertext " +
            "under the server's encryption key; decrypt on the producer " +
            "side or disable encrypt_binlog for logs this reader consumes")
      nextEvent = CdcCodec.RawEvent(tpe, tsSec * 1000L, payload, start, pos,
        serverId)
    }

    /** The next `n` stream bytes, or null at a torn tail. Up to 1 MiB
      * reads into an exact-size array; a larger claimed size reads
      * progressively, so a corrupt size field cannot allocate gigabytes
      * before the stream ends. */
    private def readBody(n: Int): Array[Byte] =
      if (n >= 0 && n <= (1 << 20)) {
        val b = new Array[Byte](n)
        if (read(b, 0, n) < n) null else b
      } else {
        // the buffered head, then the stream's own progressive read
        val head = new Array[Byte](math.max(0, math.min(n, bufEnd - bufPos)))
        read(head, 0, head.length)
        val rest = in.readNBytes(n - head.length)
        if (head.length + rest.length < n) null
        else if (head.length == 0) rest
        else {
          val b = java.util.Arrays.copyOf(head, n)
          System.arraycopy(rest, 0, b, head.length, rest.length)
          b
        }
      }

    /** The CRC32 of header + payload must equal the stored `crcBytes`. */
    private def verifyCrc(payload: Array[Byte], start: Long): Unit = {
      crc.reset()
      crc.update(header)
      crc.update(payload)
      val stored = new Cur(crcBytes).u32()
      if (crc.getValue != stored)
        throw new IOException(f"$path: CRC32 mismatch at offset $start " +
          f"(stored 0x$stored%08x, computed 0x${crc.getValue}%08x) — corrupt event")
    }

    def hasNext: Boolean = { if (nextEvent == null && !done) advance(); nextEvent != null }
    def next(): CdcCodec.RawEvent = {
      if (!hasNext) throw new NoSuchElementException
      val e = nextEvent; nextEvent = null; e
    }
    def close(): Unit = in.close()
  }

  /** Offset of the last COMPLETE event (same torn-tail contract as
    * [[CdcCodec.lastCompleteOffset]]): streaming offsets must never
    * point past it. */
  def lastCompleteOffset(path: String, maria: Boolean = false): Long = {
    if (LogFs.lenOrZero(path) < MagicLen) return MagicLen.toLong
    val r = try new EventReader(path, maria) catch {
      // shrank below its magic after the length check (a producer
      // rewriting the file): the short-file answer above; the stream's
      // monotonic guard keeps its offset until the file is whole again
      case _: EOFException => return MagicLen.toLong
    }
    try {
      var end = MagicLen.toLong
      while (r.hasNext) end = r.next().endPos
      end
    } catch {
      // a torn/incomplete tail degrades to the last whole event — but a
      // named whole-file diagnosis must surface, or the stream would
      // plan zero partitions forever instead of failing loud
      case e: UnreadableLogException => throw e
      case _: Exception => MagicLen.toLong
    } finally r.close()
  }

  /** MariaDB `log_bin_compress=ON` compressed record at `payload(off)`
    * (sql/log_event.cc "Compressed Record" layout, shared by the
    * compressed QUERY and compressed rows events): one header byte —
    * bit 7 always set, bits 4-6 the algorithm (only 0 = zlib exists),
    * low bits the byte count of the original length — then the original
    * length BIG-endian in that many bytes, then the zlib stream. Every
    * malformation fails loud: wrong header shape, oversize/undersize
    * inflate, or a corrupt stream (zlib's own checksum) — a misaligned
    * boundary can never decode silently. */
  private[cdc] def inflateMariaRecord(payload: Array[Byte], off: Int,
      pos: Long): Array[Byte] = {
    if (payload.length - off < 2) throw new IOException(
      s"compressed record truncated at log offset $pos")
    val b0 = payload(off) & 0xff
    if ((b0 & 0xf0) != 0x80) throw new IOException(
      f"compressed record at log offset $pos: header byte 0x$b0%02x — " +
        "bit 7 must be set and algorithm bits 4-6 zero (zlib is the only " +
        "algorithm MariaDB defines)")
    val lenlen = b0 & 0x0f
    if (lenlen < 1 || lenlen > 4) throw new IOException(
      s"compressed record at log offset $pos: original-length width $lenlen " +
        "outside 1..4")
    if (payload.length - off < 1 + lenlen) throw new IOException(
      s"compressed record truncated at log offset $pos")
    var orig = 0L
    var i = 0
    while (i < lenlen) {
      orig = (orig << 8) | (payload(off + 1 + i) & 0xff); i += 1
    }
    if (orig > Int.MaxValue) throw new IOException(
      s"compressed record at log offset $pos: declared size $orig too large")
    val inf = new java.util.zip.Inflater()
    val out = new Array[Byte](orig.toInt)
    try {
      inf.setInput(payload, off + 1 + lenlen, payload.length - off - 1 - lenlen)
      var total = 0
      while (total < out.length && !inf.finished()) {
        val n = inf.inflate(out, total, out.length - total)
        if (n == 0 && (inf.needsInput() || inf.needsDictionary()))
          throw new IOException(
            s"compressed record at log offset $pos: truncated zlib stream " +
              s"($total of $orig bytes)")
        total += n
      }
      // the declared bytes are all out; one probe inflate consumes the
      // zlib trailer (checksum) — extra output = the stream is LARGER
      // than declared, an unfinished stream = truncated/corrupt
      if (total == out.length && !inf.finished()) {
        val probe = new Array[Byte](1)
        if (inf.inflate(probe) > 0) throw new IOException(
          s"compressed record at log offset $pos: zlib stream larger than " +
            s"the declared $orig-byte original")
      }
      if (total < out.length || !inf.finished()) throw new IOException(
        s"compressed record at log offset $pos: zlib stream does not match " +
          s"the declared $orig-byte original")
      out
    } catch {
      case e: java.util.zip.DataFormatException => throw new IOException(
        s"compressed record at log offset $pos: zlib inflate failed: " +
          s"${e.getMessage}")
    } finally inf.end()
  }

  /** TRANSACTION_PAYLOAD → inner raw events. TLV header first (see
    * the field constants above), then the inner v4 event stream —
    * plain 19-byte headers, NO per-event CRC (the outer event's
    * checksum already covered these bytes). */
  def unwrapPayload(ev: CdcCodec.RawEvent): Seq[CdcCodec.RawEvent] = {
    val c = new Cur(ev.payload)
    var comp = CompressionNone
    var uncompressedSize = -1L
    var end = false
    while (!end) {
      val t = c.lenenc()
      if (t == PayloadEndMark) end = true
      else {
        val len = c.lenenc().toInt
        t match {
          case PayloadCompressionType =>
            if (len < 1) throw new IOException(
              s"transaction payload at ${ev.pos}: empty compression field")
            comp = c.u8(); c.skip(len - 1)
          case PayloadUncompressedSize =>
            uncompressedSize = new Cur(c.bytes(len)).lenenc()
          case _ => c.skip(len) // unknown optional field: tolerated
        }
      }
    }
    val body = c.bytes(c.remaining)
    val inner = comp match {
      case CompressionNone => body
      case CompressionZstd =>
        if (uncompressedSize < 0 || uncompressedSize > MaxUncompressedTxn)
          throw new IOException(s"transaction payload at ${ev.pos}: " +
            s"bad uncompressed size $uncompressedSize")
        val out =
          try com.github.luben.zstd.Zstd.decompress(body, uncompressedSize.toInt)
          catch { case e: RuntimeException =>
            throw new IOException(s"transaction payload at ${ev.pos}: " +
              s"zstd decompression failed: ${e.getMessage}")
          }
        if (out.length != uncompressedSize)
          throw new IOException(s"transaction payload at ${ev.pos}: " +
            s"decompressed ${out.length} of $uncompressedSize bytes")
        out
      case other => throw new IOException(
        s"transaction payload at ${ev.pos}: unsupported compression $other")
    }
    val events = Seq.newBuilder[CdcCodec.RawEvent]
    val ic = new Cur(inner)
    while (ic.remaining > 0) {
      if (ic.remaining < HeaderLen)
        throw new IOException(s"transaction payload at ${ev.pos}: torn inner header")
      val tsSec = ic.u32()
      val tpe = ic.u8().toByte
      ic.u32() // server_id
      val size = ic.u32()
      ic.u32(); ic.u16() // log_pos (0 for inner events), flags
      if (size < HeaderLen || size - HeaderLen > ic.remaining)
        throw new IOException(s"transaction payload at ${ev.pos}: " +
          s"inner event size $size out of range")
      if (tpe == EventType.TransactionPayload)
        throw new IOException(s"transaction payload at ${ev.pos}: nested payload")
      events += CdcCodec.RawEvent(tpe, tsSec * 1000L,
        ic.bytes((size - HeaderLen).toInt), ev.pos, ev.endPos, ev.serverId)
    }
    events.result()
  }

  // ------------------------------------------------------------ table maps

  /** Parsed TABLE_MAP: declared column types + per-type metadata, plus
    * names when the producer logged FULL row metadata. */
  final case class MysqlTableMap(tableId: Long, db: String, table: String,
      colTypes: Array[Int], colMeta: Array[Int], names: Option[Array[String]],
      unsigned: Array[Boolean],
      enumLabels: Map[Int, IndexedSeq[String]] = Map.empty,
      setLabels: Map[Int, IndexedSeq[String]] = Map.empty) {
    /** ENUM/SET surface as their label strings when the producer logged
      * FULL metadata (ENUM/SET_STR_VALUE TLVs carry the member lists);
      * under MINIMAL metadata only the raw index/bitmask is on the wire,
      * so that is what surfaces (the same posture mysql CDC clients
      * take: you cannot invent labels the log does not carry). */
    private def colSpark(i: Int): DataType = colTypes(i) match {
      case ColType.Enum =>
        if (enumLabels.contains(i)) StringType else IntegerType
      case ColType.SetT =>
        if (setLabels.contains(i)) StringType else LongType
      case t => ColType.toSpark(t, colMeta(i), unsigned(i))
    }
    def sparkTypes: Seq[DataType] = colTypes.indices.map(colSpark)
    def sparkSchema(fallbackNames: Int => String): StructType =
      StructType(colTypes.indices.map { i =>
        StructField(names.map(_(i)).getOrElse(fallbackNames(i)), colSpark(i))
      })
  }

  def parseTableMap(payload: Array[Byte]): MysqlTableMap = {
    val c = new Cur(payload)
    val tableId = c.u48()
    c.u16() // flags
    val dbLen = c.u8(); val db = c.str(dbLen); c.skip(1) // NUL
    val tblLen = c.u8(); val table = c.str(tblLen); c.skip(1) // NUL
    val n = c.lenenc().toInt
    val types = new Array[Int](n)
    var i = 0
    while (i < n) { types(i) = c.u8(); i += 1 }
    val metaLen = c.lenenc().toInt
    val metaEnd = c.p + metaLen
    val meta = new Array[Int](n)
    i = 0
    while (i < n) {
      meta(i) = types(i) match {
        case ColType.Varchar => c.u16() // declared max length in bytes
        case ColType.Float | ColType.Double => c.u8() // pack length
        case ColType.Blob | ColType.Json | ColType.Geometry =>
          c.u8() // number of length bytes
        case ColType.Timestamp2 | ColType.Datetime2 | ColType.Time2 =>
          c.u8() // fsp
        case ColType.Bit =>
          // (bits % 8, whole bytes) — fold to the total bit width
          val rem = c.u8(); val whole = c.u8()
          val bits = whole * 8 + rem
          require(bits >= 1 && bits <= 64,
            s"TABLE_MAP: BIT($bits) outside the 64-bit subset")
          bits
        case ColType.NewDecimal => (c.u8() << 8) | c.u8() // precision, scale
        case ColType.String254 =>
          // CHAR quirk: byte0 folds the real type with the length's
          // high bits complemented into bits 4-5; byte1 = low 8 bits.
          // ENUM/SET also ride in a STRING slot: byte0 = the real type
          // (0xf7/0xf8 — bits 4-5 set, so never mistaken for a folded
          // CHAR), byte1 = the value's pack length in bytes.
          val b0 = c.u8(); val b1 = c.u8()
          val (realType, len) =
            if ((b0 & 0x30) != 0x30)
              (b0 | 0x30, b1 | (((b0 & 0x30) ^ 0x30) << 4))
            else (b0, b1)
          if (realType == ColType.Enum || realType == ColType.SetT) {
            types(i) = realType // dispatch row decode on the real type
            require(b1 >= 1 && b1 <= 8,
              s"TABLE_MAP: ENUM/SET pack length $b1 out of range")
          } else require(realType == ColType.String254,
            s"TABLE_MAP: packed string real type $realType unsupported")
          len
        case _ => 0
      }
      i += 1
    }
    require(c.p == metaEnd, s"TABLE_MAP metadata length mismatch for $db.$table")
    c.skip((n + 7) / 8) // column nullability bitmap (schema-level; unused)
    // optional metadata TLVs (MySQL 8.0): [type:u8][len:lenenc][value]
    var names: Option[Array[String]] = None
    val unsigned = new Array[Boolean](n)
    val enumLabels = scala.collection.mutable.Map.empty[Int, IndexedSeq[String]]
    val setLabels = scala.collection.mutable.Map.empty[Int, IndexedSeq[String]]
    while (c.remaining > 0) {
      val t = c.u8()
      val len = c.lenenc().toInt
      if (t == MetaColumnName) {
        val end = c.p + len
        val buf = Array.newBuilder[String]
        while (c.p < end) buf += c.str(c.lenenc().toInt)
        val ns = buf.result()
        // names and columns are parallel everywhere downstream (the
        // name-matched schema check, the epoch remap, inference's
        // sparkSchema) — a truncated TLV would silently zip-truncate
        // the (name, type) match and misclassify real drift as
        // additive, or index out of bounds; malformed metadata fails
        // loud at the parse, once, with the table named
        if (ns.length != n)
          throw new IOException(
            s"TABLE_MAP for $db.$table declares $n columns but its " +
              s"COLUMN_NAME metadata names ${ns.length} — truncated " +
              "optional metadata")
        names = Some(ns)
      } else if (t == MetaSignedness) {
        // one bit per NUMERIC column (column order, MSB first within
        // each byte); bit set = UNSIGNED
        val bits = c.bytes(len)
        var num = 0
        var col = 0
        while (col < n) {
          if (isNumeric(types(col))) {
            unsigned(col) = num < len * 8 &&
              (bits(num / 8) & (0x80 >> (num % 8))) != 0
            num += 1
          }
          col += 1
        }
      } else if (t == MetaEnumStrValue || t == MetaSetStrValue) {
        // per ENUM (resp. SET) column in column order: member count
        // (lenenc), then that many lenenc-length strings
        val target = if (t == MetaEnumStrValue) ColType.Enum else ColType.SetT
        val end = c.p + len
        var col = 0
        while (col < n && c.p < end) {
          if (types(col) == target) {
            val cnt = c.lenenc().toInt
            val labels = (0 until cnt).map(_ => c.str(c.lenenc().toInt))
            if (t == MetaEnumStrValue) enumLabels(col) = labels
            else setLabels(col) = labels
          }
          col += 1
        }
        require(c.p == end,
          s"TABLE_MAP: ENUM/SET_STR_VALUE TLV length mismatch for $db.$table")
      } else c.skip(len) // other optional fields: not consumed
    }
    MysqlTableMap(tableId, db, table, types, meta, names, unsigned,
      enumLabels.toMap, setLabels.toMap)
  }

  private def isNumeric(t: Int): Boolean = t match {
    case ColType.Tiny | ColType.Short | ColType.Int24 | ColType.Long |
        ColType.LongLong | ColType.Float | ColType.Double |
        ColType.NewDecimal => true
    case _ => false
  }

  // ---------------------------------------------------------------- decoder

  /** Stateful MySQL event→row decode for one (db, table) target — the
    * [[CdcRowDecoder]] twin of [[CdcCodec.RowDecoder]], same envelope
    * semantics (per-table-id TABLE_MAP registry, transaction GTID with
    * the server-uuid source id, atomic before/after update pairs, null
    * bitmaps, column pruning via `needed`).
    *
    * Schema matching: by (name, type) when the TABLE_MAP carries FULL
    * metadata names (exact match, or the additive strict-prefix rule of
    * the GCDC decoder), positionally by type when it doesn't. Any other
    * disagreement fails loud by default; with `driftEpochs` AND FULL
    * metadata names the decoder instead installs a per-table-id epoch
    * remap (same policy as the GCDC decoder: declared-order values land
    * at their same-named expected positions, a dropped/re-typed column
    * reads null for that epoch's rows, epoch-only columns byte-skip) so
    * one query spans an `ALTER TABLE` boundary. MINIMAL-metadata logs
    * cannot drift-remap — no names on the wire — and keep failing loud
    * even under `driftEpochs`. */
  final class RowDecoder(targetDb: String, targetTable: String,
      needed: Int => Boolean = _ => true,
      expectedSchema: Option[StructType] = None,
      driftEpochs: Boolean = false,
      maria: Boolean = false) extends CdcRowDecoder {

    private val expectedWidth: Int = expectedSchema.map(_.length).getOrElse(-1)

    /** A table id's map in force, with the TABLE_MAP bytes it parsed
      * from (the reuse test) and, for the target table, its decode plan,
      * worked out once per map: which declared columns the query reads
      * (`need`), the source column each lands in (`target`), and the
      * source width of its rows. Under an epoch plan (shared with the
      * GCDC decoder, [[CdcCodec.buildEpochPlan]]: one drift policy) the
      * wire stays in DECLARED order and each value lands at its
      * expected position. */
    private final class MappedTable(val map: MysqlTableMap,
        val bytes: Array[Byte], plan: CdcCodec.EpochPlan, isTarget: Boolean) {
      private val n = if (isTarget) map.colTypes.length else 0
      val need: Array[Boolean] =
        if (plan != null) plan.declaredNeeded else Array.tabulate(n)(needed)
      val target: Array[Int] = if (plan != null) plan.target else Array.range(0, n)
      val rowWidth: Int = if (expectedWidth >= 0) expectedWidth else n
      // ENUM/SET labels as UTF8String, built once per map, not per row
      val enumUtf8: Map[Int, Array[UTF8String]] =
        map.enumLabels.map { case (i, ls) => i -> ls.map(UTF8String.fromString).toArray }
    }
    private val tableMaps = scala.collection.mutable.Map.empty[Long, MappedTable]
    private var currentGtid = 0L
    private var currentSourceId: UTF8String =
      UTF8String.fromString(CdcSchema.AnonymousSourceId)
    // gtid_mode=OFF txn marker seen: the wire carries NO transaction
    // identity, so target-table rows under it cannot be given a truthful
    // __gtid — decoding them fails loud (below) instead of silently
    // stamping a stale/zero gtid, which would corrupt latest-image
    // ordering and update-pair joins.
    private var anonymousTxn = false
    // A recognized transaction-identity event (GTID) governs the CURRENT
    // transaction only: XID clears it, and so does any QUERY statement
    // that is not part of a live transaction body (body statements:
    // BEGIN, SAVEPOINT, ROLLBACK TO SAVEPOINT, XA START/END) — a
    // GTID-governed scope can end WITHOUT an XID (DDL statements are
    // GTID→QUERY(ALTER …) with no XID; non-transactional-engine txns
    // close with QUERY(COMMIT)). Target-table rows with no
    // live identity fail loud — otherwise an identity event of an
    // unrecognized FUTURE type (which the default arm skips as
    // control; tagged GTIDs, type 42, decode since round 11 — the
    // guard now covers types newer still) would leave the PREVIOUS
    // transaction's gno in place and stamp the following rows with a
    // stale __gtid: the same corruption class the anonymous-GTID check
    // closes for gtid_mode=OFF, here closed for future/unknown wire
    // states by construction.
    private var txnIdentityValid = false
    // A BEGIN (or XA START) QUERY opened a transaction BODY that no XID
    // / COMMIT / ROLLBACK / XA END has closed yet. Distinguishing
    // in-body from standalone statements matters under
    // binlog_format=MIXED: mysqld statement-logs a DML event INSIDE a
    // live body (optimizer chose statement logging for that statement)
    // before the target table's row events — such a QUERY must KEEP the
    // scope open (the transaction's GTID governs all of it), while the
    // same-looking QUERY outside a body is a DDL/standalone statement
    // whose GTID scope ends with it (no XID follows).
    private var txnBodyOpen = false
    // Statement text of the most recent ROWS_QUERY event in the live
    // identity scope (binlog_rows_query_log_events=ON writes one per
    // row-logged statement, before its TABLE_MAPs; the next statement's
    // event replaces it). Cleared wherever the identity scope opens or
    // closes, so a statement can never be stamped onto another
    // transaction's rows. Null when the producer doesn't log them.
    private var currentRowsQuery: UTF8String = null
    // A row image inside a compressed container (a TRANSACTION_PAYLOAD,
    // a MariaDB compressed rows event) has no byte of its own in the
    // file: its __pos offset is the container's offset plus the image's
    // rank among the container's images (-1: not in a container).
    private var containerRank = -1L

    def decode(ev: CdcCodec.RawEvent, sink: RowSink): Unit = ev.tpe match {
      case EventType.TableMap =>
        // mysqld writes the same TABLE_MAP before every transaction that
        // touches the table: bytes equal to the map in force for this
        // table id parse to the same map and pass the same schema check,
        // so only a changed map is parsed and checked again
        val tableId = new Cur(ev.payload).u48()
        val prev = tableMaps.getOrElse(tableId, null)
        if (prev == null || !java.util.Arrays.equals(prev.bytes, ev.payload)) {
          val tm = parseTableMap(ev.payload)
          val isTarget = tm.db == targetDb && tm.table == targetTable
          tableMaps(tm.tableId) = new MappedTable(tm, ev.payload,
            if (isTarget) checkSchema(tm, ev.pos) else null, isTarget)
        }
      case EventType.Gtid =>
        val c = new Cur(ev.payload)
        c.u8() // flags (commit-ordered etc.)
        val sid = c.bytes(16)
        currentGtid = c.i64()
        currentSourceId = UTF8String.fromString(formatUuid(sid))
        anonymousTxn = false
        txnIdentityValid = true
        txnBodyOpen = false
        currentRowsQuery = null
        // trailing logical-timestamp fields (5.7+): ignored
      case EventType.GtidTagged =>
        // MySQL 8.3+ tagged GTID (`UUID:tag:gno`, 8.4 LTS default-
        // capable): the (uuid, tag) PAIR is the source-stream identity
        // — gno uniqueness is per tag — so the tag rides __source_id
        // as `uuid:tag`, exactly the multi-source identity shape cdc19
        // already serves. Untagged events (type 33) are byte-identical
        // to before; an empty tag (not a thing mysqld writes, but
        // representable) reads as the plain uuid.
        val (uuid, tag, gno) = parseTaggedGtid(ev.payload, ev.pos)
        currentGtid = gno
        currentSourceId = UTF8String.fromString(
          if (tag.isEmpty) uuid else s"$uuid:$tag")
        anonymousTxn = false
        txnIdentityValid = true
        txnBodyOpen = false
        currentRowsQuery = null
      case EventType.AnonymousGtid =>
        anonymousTxn = true
        txnBodyOpen = false
        currentRowsQuery = null
      case EventType.MariaGtid if maria =>
        // MariaDB GTID (type 162): the identity triple is
        // domain-server-seq — seq_no u64, domain_id u32, flags2 u8
        // (+ u64 commit_id when FL_GROUP_COMMIT_ID). The writing
        // server's id rides the event HEADER, so __source_id is
        // `domain-server` and __gtid the per-domain seq_no. Unlike
        // MySQL, a non-standalone GTID event IS the transaction opener
        // (MariaDB writes no BEGIN QUERY event) — the body opens here;
        // FL_STANDALONE (DDL and other auto-committed statements) opens
        // a body-less scope the statement itself closes, exactly the
        // MySQL GTID→QUERY(DDL) shape.
        val c = new Cur(ev.payload)
        val seq = c.i64()
        val domain = c.u32()
        // flags2 is mandatory (13-byte minimum body): defaulting a
        // truncated identity event to "non-standalone" would silently
        // open a body scope — fail loud like the other malformed
        // identity branches (CRC verification makes this remote)
        require(c.remaining >= 1,
          s"MariaDB GTID event truncated: missing flags2 byte " +
            s"(seq $seq, domain $domain)")
        val flags2 = c.u8()
        currentGtid = seq
        currentSourceId = UTF8String.fromString(s"$domain-${ev.serverId}")
        anonymousTxn = false
        txnIdentityValid = true
        txnBodyOpen = (flags2 & 1) == 0 // FL_STANDALONE = 1
        currentRowsQuery = null
      case EventType.MariaGtidList | EventType.MariaBinlogCheckpoint
          if maria =>
        // file-start state / flush bookkeeping: planner-level only
      case EventType.MariaQueryCompressed if maria =>
        // log_bin_compress=ON QUERY (type 165): the event is a plain
        // QUERY event whose STATEMENT tail is a compressed record
        // (sql/log_event.cc query_event_uncompress — the fixed part,
        // status vars, and db stay uncompressed). Inflate the statement
        // and re-dispatch as a normal QUERY so scope classification
        // (BEGIN/COMMIT/DDL/in-body DML) stays one code path. Only
        // statements past log_bin_compress_min_len are compressed by
        // the server, so short closers (COMMIT) arrive plain anyway.
        val stmtStart = {
          if (ev.payload.length < 13) throw new IOException(
            s"compressed QUERY event truncated at log offset ${ev.pos}")
          val c = new Cur(ev.payload)
          c.skip(8)
          val schemaLen = c.u8()
          c.skip(2)
          val statusVarsLen = c.u16()
          13 + statusVarsLen + schemaLen + 1
        }
        if (stmtStart > ev.payload.length) throw new IOException(
          s"compressed QUERY event truncated at log offset ${ev.pos}")
        val stmt = inflateMariaRecord(ev.payload, stmtStart, ev.pos)
        val rebuilt = new Array[Byte](stmtStart + stmt.length)
        System.arraycopy(ev.payload, 0, rebuilt, 0, stmtStart)
        System.arraycopy(stmt, 0, rebuilt, stmtStart, stmt.length)
        decode(ev.copy(tpe = EventType.Query, payload = rebuilt), sink)
      case EventType.MariaWriteRowsCompressed |
          EventType.MariaUpdateRowsCompressed |
          EventType.MariaDeleteRowsCompressed if maria =>
        // log_bin_compress=ON rows events (types 166-168): the V1
        // post-header (table id u48 + flags u16 — no extra-data field)
        // stays uncompressed; everything after it (width lenenc,
        // columns bitmap(s), row images) is ONE compressed record
        // (sql/log_event.cc row_log_event_uncompress; same boundary in
        // the go-mysql replication client). Inflate and decode through
        // the normal V1 rows path. A wrong boundary can only fail loud:
        // the record header check and the zlib checksum reject
        // misaligned bytes. Inflation cost is skipped entirely for
        // non-target tables (the table id is readable uncompressed).
        val tableId = new Cur(ev.payload).u48()
        val isTarget = tableMaps.get(tableId)
          .exists(t => t.map.db == targetDb && t.map.table == targetTable)
        if (isTarget) {
          if (ev.payload.length < 8) throw new IOException(
            s"compressed rows event truncated at log offset ${ev.pos}")
          val body = inflateMariaRecord(ev.payload, 8, ev.pos)
          val rebuilt = new Array[Byte](8 + body.length)
          System.arraycopy(ev.payload, 0, rebuilt, 0, 8)
          System.arraycopy(body, 0, rebuilt, 8, body.length)
          val inflated = ev.copy(payload = rebuilt)
          containerRank = 0L
          ev.tpe match {
            case EventType.MariaWriteRowsCompressed =>
              rowsEvent(inflated, sink, CdcSchema.Op.Insert, images = 1, v1 = true)
            case EventType.MariaDeleteRowsCompressed =>
              rowsEvent(inflated, sink, CdcSchema.Op.Delete, images = 1, v1 = true)
            case _ =>
              rowsEvent(inflated, sink, CdcSchema.Op.UpdateBefore, images = 2,
                v1 = true)
          }
          containerRank = -1L
        }
      case EventType.MariaAnnotateRows if maria =>
        // the statement text (binlog_annotate_row_events=ON), written
        // before the statement's TABLE_MAPs — MariaDB's ROWS_QUERY,
        // body = the query to end-of-body (no leading length byte)
        currentRowsQuery =
          if (ev.payload.isEmpty) null
          else UTF8String.fromBytes(ev.payload, 0, ev.payload.length)
      case EventType.Xid | EventType.XaPrepare =>
        // transaction commit (XID) or the binary XA_PREPARE event
        // (mysqld logs XA PREPARE / one-phase XA COMMIT as type 38,
        // not a QUERY statement): either way the identity set by this
        // txn's GTID event must not leak onto rows of a later
        // transaction whose identity event we failed to recognize
        txnIdentityValid = false
        anonymousTxn = false
        txnBodyOpen = false
        currentRowsQuery = null
      case EventType.RowsQuery =>
        // 1 length byte (capped at 255 — ignored, as real readers do),
        // then the statement text to end-of-body
        currentRowsQuery =
          if (ev.payload.length <= 1) null
          else UTF8String.fromBytes(ev.payload, 1, ev.payload.length - 1)
      case EventType.Query =>
        // Statement classification against the live transaction BODY:
        //  - `BEGIN` / `XA START …` OPEN a body (row-format / XA txn
        //    opener); SAVEPOINT / ROLLBACK TO SAVEPOINT are body
        //    statements mysqld logs mid-transaction even under
        //    binlog_format=ROW — scope and body unchanged.
        //  - `COMMIT` / `ROLLBACK` / `XA END` TERMINATE: COMMIT/
        //    ROLLBACK are the no-XID closers (non-transactional-engine
        //    txns commit via QUERY(COMMIT); a bare ROLLBACK ends a txn
        //    with non-transactional side effects) and close body AND
        //    scope; XA END closes the body only (XA PREPARE, a later
        //    standalone statement, ends the scope).
        //  - any other statement WHILE A BODY IS OPEN is a
        //    statement-logged DML inside a live transaction
        //    (binlog_format=MIXED — the optimizer chose statement
        //    logging for that one statement): the transaction's GTID
        //    still governs the row events that follow, so the scope
        //    stays open. mysqld only statement-logs INSIDE a live body;
        //    DDL implicitly commits first and never appears in-body.
        //  - any other statement OUTSIDE a body (DDL, XA PREPARE/
        //    COMMIT/ROLLBACK) both runs in and CLOSES the current GTID
        //    scope — these scopes have no XID, so without this a
        //    GTID→QUERY(ALTER …) pair would leave its gno live and
        //    stamp rows of a later transaction whose identity event we
        //    failed to recognize.
        val stmt = queryStatement(ev.payload)
        if (stmt == "BEGIN" || stmt.startsWith("XA START")) {
          txnBodyOpen = true
        } else if (stmt.startsWith("SAVEPOINT ") ||
            stmt.startsWith("ROLLBACK TO ")) {
          // body statement: scope and body unchanged
        } else if (stmt == "COMMIT" || stmt == "ROLLBACK") {
          txnIdentityValid = false
          anonymousTxn = false
          txnBodyOpen = false
          currentRowsQuery = null
        } else if (stmt.startsWith("XA END")) {
          txnBodyOpen = false
        } else if (stmt.isEmpty) {
          // malformed/unparseable QUERY payload: we cannot tell whether
          // this was a closer (COMMIT/ROLLBACK) or an in-body statement.
          // Close the scope — the conservative direction (a stale gtid
          // must never stamp a later transaction's rows); a genuinely
          // in-body statement-logged DML after this just loses its
          // __gtid, it is never mis-attributed.
          txnIdentityValid = false
          anonymousTxn = false
          txnBodyOpen = false
          currentRowsQuery = null
        } else if (txnBodyOpen) {
          // MIXED-format statement-logged DML inside the body: keep the
          // scope; clear the ROWS_QUERY text (it described the PREVIOUS
          // statement — it must not stamp rows logged after this one)
          currentRowsQuery = null
        } else {
          txnIdentityValid = false
          anonymousTxn = false
          txnBodyOpen = false
          currentRowsQuery = null
        }
      case EventType.Incident =>
        // the master itself declares the stream may be missing events
        // (LOST_EVENTS). The gap is not table-scoped, so continuity
        // cannot be claimed for ANY table — skipping would silently
        // serve a latest-image view with a hole in it.
        val c = new Cur(ev.payload)
        val number = if (c.remaining >= 2) c.u16() else -1
        val msgLen = if (c.remaining > 0) c.u8() else 0
        val msg = if (msgLen > 0 && c.remaining >= msgLen)
          new String(c.bytes(msgLen), java.nio.charset.StandardCharsets.UTF_8)
        else ""
        throw new IOException(
          s"INCIDENT event (number=$number${if (msg.nonEmpty) s", '$msg'" else ""}) " +
            s"at log offset ${ev.pos}: the producer recorded that events may " +
            "have been lost — the log cannot serve a consistent change " +
            "stream past this point; re-snapshot the table")
      case EventType.WriteRowsV1 if maria =>
        // MariaDB logs rows events in the V1 layout (no extra-data
        // field) on every version — same images, null bitmaps, and
        // per-type value decode as V2 past the post-header
        rowsEvent(ev, sink, CdcSchema.Op.Insert, images = 1, v1 = true)
      case EventType.DeleteRowsV1 if maria =>
        rowsEvent(ev, sink, CdcSchema.Op.Delete, images = 1, v1 = true)
      case EventType.UpdateRowsV1 if maria =>
        rowsEvent(ev, sink, CdcSchema.Op.UpdateBefore, images = 2, v1 = true)
      case EventType.WriteRowsV1 | EventType.UpdateRowsV1 |
          EventType.DeleteRowsV1 =>
        // pre-5.6 rows-event layout (no extra-data field): not decoded.
        // Skipping the event for the target table would silently DROP its
        // changes; the v1 post-header still leads with the 6-byte table
        // id, so target-ness is decidable without decoding the body.
        val tableId = new Cur(ev.payload).u48()
        tableMaps.get(tableId).map(_.map) match {
          case Some(tm) if tm.db == targetDb && tm.table == targetTable =>
            throw new IOException(
              s"v1 rows event (type ${ev.tpe}, pre-5.6 layout) for " +
                s"$targetDb.$targetTable at log offset ${ev.pos}: only the " +
                "v2 rows-event layout is supported — write the log with a " +
                "MySQL 5.6+ server (binlog checksum-era format)")
          case _ =>
        }
      case EventType.PartialUpdateRows =>
        // binlog_row_value_options=PARTIAL_JSON: the after-image may
        // carry JSON columns as diff vectors instead of full values;
        // each diff applies against the BEFORE image's document
        // (readImage partialJson path). Decodes to the same
        // before/after pair surface as a v2 UPDATE.
        rowsEvent(ev, sink, CdcSchema.Op.UpdateBefore, images = 2,
          partialJson = true)
      case EventType.WriteRowsV2 =>
        rowsEvent(ev, sink, CdcSchema.Op.Insert, images = 1)
      case EventType.DeleteRowsV2 =>
        rowsEvent(ev, sink, CdcSchema.Op.Delete, images = 1)
      case EventType.UpdateRowsV2 =>
        rowsEvent(ev, sink, CdcSchema.Op.UpdateBefore, images = 2)
      case EventType.TransactionPayload =>
        // one whole transaction's inner events (TABLE_MAP + rows + XID),
        // zstd-compressed by the producer; the preceding outer GTID has
        // already set this txn's identity. Inner events carry the OUTER
        // event's offsets so streaming resume stays outer-granular.
        containerRank = 0L
        unwrapPayload(ev).foreach(decode(_, sink))
        containerRank = -1L
      case _ => // FDE/ROTATE/HEARTBEAT/...: control or ignorable
    }

    /** QUERY_EVENT statement-text peek (public layout: thread_id u32,
      * exec_time u32, schema_len u8, error_code u16, status_vars_len
      * u16, status vars, schema, NUL, statement to end-of-body): does
      * this statement KEEP the transaction-identity scope open?
      * Scope-keeping statements are exactly the ones mysqld writes
      * inside a live transaction body: `BEGIN`, `SAVEPOINT …`,
      * `ROLLBACK TO [SAVEPOINT] …`, `XA START …`, `XA END …` (bare
      * `ROLLBACK` ends the txn and does NOT match — the `ROLLBACK TO `
      * prefix check requires the TO). A malformed body counts as
      * scope-closing: the conservative direction (identity closes,
      * later rows fail loud) — never the stale-stamp one. */
    /** Uppercased statement text of a QUERY event, cut to its first 16
      * characters: every test the caller makes is a prefix test or an
      * equality with a shorter word, so the cut changes no answer and a
      * long statement is not copied ("" on a malformed payload — the
      * caller's else-branch then closes the scope, the conservative read
      * for bytes we can't parse). */
    private def queryStatement(payload: Array[Byte]): String = {
      if (payload.length < 13) return ""
      val c = new Cur(payload)
      c.skip(8) // thread id, exec time
      val schemaLen = c.u8()
      c.skip(2) // error code
      val statusVarsLen = c.u16()
      val stmtStart = 13 + statusVarsLen + schemaLen + 1
      if (stmtStart > payload.length) return ""
      new String(payload, stmtStart, math.min(16, payload.length - stmtStart),
        java.nio.charset.StandardCharsets.US_ASCII).toUpperCase
    }


    /** The target map against the query schema: null when it matches
      * (or is an additive prefix of it), an epoch plan under
      * `driftEpochs`, and a loud failure otherwise. */
    private def checkSchema(tm: MysqlTableMap, pos: Long): CdcCodec.EpochPlan =
      expectedSchema.fold(null: CdcCodec.EpochPlan) { exp =>
        val expP = exp.fields.map(f => (f.name, f.dataType)).toSeq
        val ok = tm.names match {
          case Some(ns) =>
            val got = ns.toSeq.zip(tm.sparkTypes)
            got == expP || (got.length < expP.length &&
              expP.take(got.length) == got &&
              exp.fields.drop(got.length).forall(_.nullable))
          case None =>
            val got = tm.sparkTypes
            val expT = expP.map(_._2)
            got == expT || (got.length < expT.length &&
              expT.take(got.length) == got &&
              exp.fields.drop(got.length).forall(_.nullable))
        }
        if (ok) null
        else if (driftEpochs && tm.names.isDefined)
          // names.length == colTypes.length by parseTableMap's TLV
          // validation, so the plan's declared mask is correctly sized
          CdcCodec.buildEpochPlan(exp,
            tm.names.get, tm.sparkTypes.toIndexedSeq, needed)
        else if (driftEpochs)
          throw new IllegalStateException(
            s"schema drift for $targetDb.$targetTable at log offset $pos " +
              "with schemaDrift=epochs, but the TABLE_MAP carries no column " +
              "names (producer logged binlog_row_metadata=MINIMAL): the " +
              "epoch remap matches columns by name — re-log with " +
              "binlog_row_metadata=FULL, or restart the query on the new schema")
        else
          throw new IllegalStateException(
            s"schema drift for $targetDb.$targetTable at log offset $pos: " +
              s"TABLE_MAP declares ${tm.sparkSchema(i => s"_c$i").simpleString}, " +
              s"query expects ${exp.simpleString}; restart the query to pick " +
              "up the new schema (or read with option schemaDrift=epochs — " +
              "needs FULL row metadata names)")
      }

    private def rowsEvent(ev: CdcCodec.RawEvent, sink: RowSink, op: Int,
        images: Int, partialJson: Boolean = false, v1: Boolean = false): Unit = {
      val c = new Cur(ev.payload)
      val mapped = tableMaps.getOrElse(c.u48(), null)
      if (mapped != null && mapped.map.db == targetDb &&
          mapped.map.table == targetTable) {
        val tm = mapped.map
        if (anonymousTxn) throw new IOException(
          s"rows event for $targetDb.$targetTable at log offset ${ev.pos} " +
            "inside an ANONYMOUS_GTID transaction (gtid_mode=OFF): the wire " +
            "carries no transaction identity for __gtid — enable GTIDs on " +
            "the producer (gtid_mode=ON) to read this table's changes")
        if (!txnIdentityValid) throw new IOException(
          s"rows event for $targetDb.$targetTable at log offset ${ev.pos} " +
            "with no live transaction identity: no recognized GTID event " +
            "opened this transaction (an identity event of an unrecognized " +
            "future type, or a log spliced " +
            "mid-transaction); decoding would stamp these rows with a " +
            "stale __gtid, corrupting latest-image ordering")
        c.u16() // flags
        if (!v1) {
          val extraLen = c.u16() // v2 extra-data length, includes these 2 bytes
          c.skip(math.max(0, extraLen - 2))
        }
        val width = c.lenenc().toInt
        require(width == tm.colTypes.length,
          s"rows event width $width != TABLE_MAP width ${tm.colTypes.length} " +
            s"for ${tm.db}.${tm.table}")
        val present1 = span(c, (width + 7) / 8, ev.pos)
        val present2 = if (images == 2) span(c, (width + 7) / 8, ev.pos) else present1
        val tmMicros = DateTimeUtils.millisToMicros(ev.tsMs)
        val rowWidth = mapped.rowWidth
        // PARTIAL_JSON: each after image's diffs apply to the documents
        // of its own before image (declared order), kept here
        val docs = if (partialJson) new Array[String](width) else null
        // MySQL rows events carry no row count: parse images to the end.
        // PROGRESS GUARD: a corrupted all-zero columns-present bitmap
        // would make an image consume zero bytes — without the check
        // the parse-to-end loop never terminates
        var lastP = -1
        while (c.remaining > 0) {
          if (c.p == lastP)
            throw new IOException(
              s"rows event stalled at offset ${ev.pos}: zero-byte row image " +
                "(corrupt columns-present bitmap?)")
          lastP = c.p
          if (images == 2) {
            // images decode in DECLARED order (the wire layout; also
            // what a PARTIAL_JSON diff's base document is indexed by)
            if (docs != null) java.util.Arrays.fill(docs.asInstanceOf[Array[AnyRef]], null)
            val before = sink.begin(CdcSchema.Op.UpdateBefore, currentGtid,
              tmMicros, currentSourceId, currentRowsQuery, rowWidth,
              imagePos(ev, c, sink))
            readImage(c, mapped, present1, ev.pos,
              if (before) sink else null, docs, partialAfter = false)
            val after = sink.begin(CdcSchema.Op.UpdateAfter, currentGtid,
              tmMicros, currentSourceId, currentRowsQuery, rowWidth,
              imagePos(ev, c, sink))
            readImage(c, mapped, present2, ev.pos,
              if (after) sink else null, docs, partialAfter = partialJson)
          } else {
            val keep = sink.begin(op, currentGtid, tmMicros, currentSourceId,
              currentRowsQuery, rowWidth, imagePos(ev, c, sink))
            readImage(c, mapped, present1, ev.pos,
              if (keep) sink else null, null, partialAfter = false)
          }
        }
      } // other table, or rows before any TABLE_MAP: skip
    }

    /** The byte offset in the file of the image starting at `c.p`: the
      * payload follows the event's 19-byte header. Inside a compressed
      * container the images take the container's offsets in order, so
      * they stay between the rows before and after it; a container with
      * more images than bytes cannot be ordered that way, which fails
      * loud when the scan reads `__pos`. */
    private def imagePos(ev: CdcCodec.RawEvent, c: Cur, sink: RowSink): Long =
      if (containerRank < 0) ev.pos + HeaderLen + c.p
      else {
        val p = ev.pos + containerRank
        containerRank += 1
        if (p >= ev.endPos && sink.wantsPos) throw new IOException(
          s"compressed event at log offset ${ev.pos} holds more row images " +
            s"than its ${ev.endPos - ev.pos} bytes: __pos cannot order them")
        p
      }

    /** One row image: null bitmap over PRESENT columns (bit j = j-th
      * present column, LSB-first), then values for present non-null
      * columns in column order. The needed values go into `sink` at
      * their expected positions, then `sink.end()`; with no sink (a row
      * the sink dropped) every value is byte-skipped, except that a
      * PARTIAL_JSON before image still decodes the documents its after
      * image diffs against.
      *
      * Partial row images (`binlog_row_image=MINIMAL`/`NOBLOB`: before
      * images carry only the PK, after images only changed columns —
      * the bitmaps the reference's update walk consumes via
      * get_cols()/get_cols_ai(), binlog_table_reader.cc:321-323,385)
      * are decodable EXACTLY as far as the projection reaches: an
      * absent column the query does not select simply never surfaces,
      * so PK-only / envelope-only reads of a MINIMAL log work. An
      * absent column the query DOES select fails loud — surfacing it
      * as SQL NULL would be indistinguishable from a true NULL and
      * silently corrupt latest-image compaction, the same corruption
      * class PARTIAL_JSON and anonymous-GTID fail loud on. */
    private def readImage(c: Cur, mt: MappedTable, present: Int, pos: Long,
        sink: RowSink, docs: Array[String], partialAfter: Boolean): Unit = {
      val tm = mt.map
      val a = c.a
      val need = mt.need
      def isPresent(i: Int): Boolean = (a(present + i / 8) & (1 << (i % 8))) != 0
      val capture = docs != null && !partialAfter
      val n = tm.colTypes.length
      var presentCount = 0
      var i = 0
      while (i < n) { if (isPresent(i)) presentCount += 1; i += 1 }
      // PARTIAL_UPDATE_ROWS after-image only: value_options (packed
      // int) precedes the null bitmap; when its PARTIAL_JSON bit is set,
      // a partial_bits bitmap follows — one bit per JSON column INCLUDED
      // in this image, marking whether that column's bytes are a diff
      // vector (1) or a full value (0). Unknown option bits fail loud:
      // each one changes the layout of everything after it.
      var partialBits = -1
      if (partialAfter) {
        val valueOptions = c.lenenc()
        if ((valueOptions & ~1L) != 0L)
          throw new IOException(
            s"partial-update after-image at log offset $pos carries " +
              s"unknown value_options bits 0x${valueOptions.toHexString}: " +
              "a newer binlog_row_value_options layout than this decoder " +
              "understands")
        if ((valueOptions & 1L) != 0L) {
          var nJson = 0
          i = 0
          while (i < n) {
            if (isPresent(i) && tm.colTypes(i) == ColType.Json) nJson += 1
            i += 1
          }
          partialBits = span(c, (nJson + 7) / 8, pos)
        }
      }
      val nulls = span(c, (presentCount + 7) / 8, pos)
      var j = 0 // ordinal among present columns
      var jj = 0 // ordinal among present JSON columns (partial_bits index)
      i = 0
      while (i < n) {
        if (!isPresent(i)) {
          if (sink != null && need(i)) {
            val colName = tm.names.map(_(i)).getOrElse(s"column #$i")
            throw new IOException(
              s"partial row image for ${tm.db}.${tm.table} at log offset " +
                s"$pos omits selected column $colName " +
                "(binlog_row_image=MINIMAL/NOBLOB): an absent column is " +
                "indistinguishable from SQL NULL and would corrupt " +
                "latest-image compaction — select only the columns the " +
                "image carries, or write the log with binlog_row_image=FULL")
          }
        } else {
          val isNull = (a(nulls + j / 8) & (1 << (j % 8))) != 0
          val t = tm.colTypes(i)
          val isJson = t == ColType.Json
          if (!isNull) {
            val col = mt.target(i)
            if (isJson && partialBits >= 0 &&
                (a(partialBits + jj / 8) & (1 << (jj % 8))) != 0) {
              // diff vector in the JSON column's length-prefixed slot,
              // applied against the BEFORE image's document
              val diffAt = span(c, lengthPrefix(c, tm.colMeta(i), "JSON"), pos)
              if (sink != null && need(i)) {
                val base = docs(i)
                if (base == null) {
                  val colName = tm.names.map(_(i)).getOrElse(s"column #$i")
                  throw new IOException(
                    s"partial-JSON diff for ${tm.db}.${tm.table} column " +
                      s"$colName at log offset $pos has no before-image " +
                      "document to apply against (NULL or absent base — " +
                      "binlog_row_image=MINIMAL with PARTIAL_JSON): the " +
                      "after value cannot be reconstructed from the log " +
                      "alone; write the log with binlog_row_image=FULL")
                }
                sink.setString(col, UTF8String.fromString(JsonBinary.applyDiffs(
                  base, java.util.Arrays.copyOfRange(a, diffAt, c.p))))
              }
            } else if (isJson && need(i) && (sink != null || capture)) {
              val at = span(c, lengthPrefix(c, tm.colMeta(i), "JSON"), pos)
              // real mysqld emits a zero-length value for null JSON
              // documents in some binlog paths (CDC clients special-case
              // empty → null)
              if (c.p > at) {
                val text = JsonBinary.decode(java.util.Arrays.copyOfRange(a, at, c.p))
                if (capture) docs(i) = text
                if (sink != null) sink.setString(col, UTF8String.fromString(text))
              }
            } else if (sink != null && need(i))
              readValue(c, t, tm.colMeta(i), tm.unsigned(i), mt, i, col, sink, pos)
            else skipValue(c, t, tm.colMeta(i))
          }
          j += 1
          if (isJson) jj += 1
        }
        i += 1
      }
      if (sink != null) sink.end()
    }

    /** The offset of the next `n` bytes, which the cursor then passes: a
      * length past the payload fails loud here, before any sink copies
      * from it. */
    private def span(c: Cur, n: Long, pos: Long): Int = {
      if (n < 0 || n > c.remaining) throw new IOException(
        s"corrupt rows event at log offset $pos: length $n with " +
          s"${c.remaining} payload bytes left")
      val at = c.p
      c.skip(n.toInt)
      at
    }

    /** The 1-4 byte little-endian length of a BLOB/JSON/GEOMETRY value
      * (`meta` = its width). */
    private def lengthPrefix(c: Cur, meta: Int, what: String): Long = meta match {
      case 1 => c.u8().toLong
      case 2 => c.u16().toLong
      case 3 => c.u24().toLong
      case 4 => c.u32()
      case m => throw new IOException(s"bad $what length-byte count $m")
    }

    /** One non-null value of wire type `t` into `sink` at `col`, in the
      * Spark type [[MysqlTableMap.sparkTypes]] declares for it. Unsigned
      * integers decode into the widened type the SIGNEDNESS-aware schema
      * declared (u64 → DECIMAL(20,0): the raw two's-complement long
      * reinterprets through BigInteger + 2^64). A zero date or datetime
      * sets nothing: it reads null. */
    private def readValue(c: Cur, t: Int, meta: Int, unsigned: Boolean,
        mt: MappedTable, i: Int, col: Int, sink: RowSink, pos: Long): Unit = t match {
      case ColType.Tiny =>
        if (unsigned) sink.setShort(col, c.u8().toShort)
        else sink.setByte(col, c.u8().toByte)
      case ColType.Short =>
        if (unsigned) sink.setInt(col, c.u16()) else sink.setShort(col, c.u16().toShort)
      case ColType.Int24 =>
        // unsigned 0..2^24-1 fits the signed Int surface; signed
        // sign-extends 24→32
        val v = c.u24()
        sink.setInt(col, if (!unsigned && (v & 0x800000) != 0) v | 0xff000000 else v)
      case ColType.Long =>
        if (unsigned) sink.setLong(col, c.u32()) else sink.setInt(col, c.i32())
      case ColType.LongLong =>
        val v = c.i64()
        if (!unsigned) sink.setLong(col, v)
        else {
          val bd = if (v >= 0) java.math.BigDecimal.valueOf(v)
            else new java.math.BigDecimal(java.math.BigInteger.valueOf(v)
              .add(java.math.BigInteger.ONE.shiftLeft(64)))
          sink.setDecimal(col, Decimal(bd, 20, 0))
        }
      case ColType.Float => sink.setFloat(col, java.lang.Float.intBitsToFloat(c.i32()))
      case ColType.Double =>
        sink.setDouble(col, java.lang.Double.longBitsToDouble(c.i64()))
      case ColType.Varchar | ColType.String254 =>
        val at = span(c, if (meta < 256) c.u8() else c.u16(), pos)
        sink.setUtf8(col, c.a, at, c.p - at)
      case ColType.Blob | ColType.Geometry =>
        val at = span(c, lengthPrefix(c, meta, "BLOB"), pos)
        sink.setBinary(col, c.a, at, c.p - at)
      case ColType.Date =>
        // 3-byte LE packed: day + month*32 + year*512 -> Spark epoch days
        val v = c.u24()
        val day = v & 31; val month = (v >> 5) & 15; val year = v >> 9
        // zero-date AND zero-in-date ('2024-00-15', legal when sql_mode
        // omits NO_ZERO_IN_DATE): no epoch-day representation -> null
        if (month != 0 && day != 0)
          sink.setInt(col, epochDay(year, month, day, "DATE", pos).toInt)
      case ColType.Year =>
        // 1 byte, year-1900; 0 is the literal year 0000
        val v = c.u8()
        sink.setShort(col, (if (v == 0) 0 else 1900 + v).toShort)
      case ColType.Timestamp =>
        // legacy TIMESTAMP: 4-byte LE unix seconds (no fractional part).
        // 0 is the zero-date, NOT epoch 0 — TIMESTAMP's valid range
        // starts at 1970-01-01 00:00:01, so mysqld uses 0 for
        // '0000-00-00 00:00:00' -> SQL null
        val s = c.u32()
        if (s != 0L) sink.setLong(col, s * 1000000L)
      case ColType.Time =>
        // legacy TIME: 3-byte LE signed ±(H*10000 + M*100 + S) — same
        // signed-microseconds surface as TIME2
        val v0 = c.u24()
        val v = if ((v0 & 0x800000) != 0) v0 | 0xff000000 else v0
        val a = math.abs(v)
        val hh = a / 10000; val mm = a / 100 % 100; val ss = a % 100
        // fail loud on wire values mysqld can't produce (MM/SS are
        // base-60 digits; TIME range is ±838:59:59)
        if (mm >= 60 || ss >= 60 || hh > 838)
          throw new IOException(s"legacy TIME out of range: ${hh}:${mm}:${ss}")
        val micros = (hh * 3600L + mm * 60L + ss) * 1000000L
        sink.setLong(col, if (v < 0) -micros else micros)
      case ColType.DateTime =>
        // legacy DATETIME: 8-byte LE decimal YYYYMMDDHHMMSS
        val v = c.i64()
        val d = (v / 1000000L).toInt; val t = (v % 1000000L).toInt
        // zero-datetime and zero-in-date parts -> null (see ColType.Date)
        if (d / 100 % 100 != 0 && d % 100 != 0)
          sink.setLong(col, dateTimeMicros(d / 10000, d / 100 % 100, d % 100,
            t / 10000, t / 100 % 100, t % 100, "DATETIME", pos))
      case ColType.Bit =>
        // big-endian bitfield in ceil(bits/8) bytes (meta = bit width)
        sink.setLong(col, c.beU((meta + 7) / 8))
      case ColType.Time2 =>
        // packed = ±((hour<<12|min<<6|sec) << 24 | frac-µs); negative
        // durations are the arithmetic negation, so |packed| splits
        // cleanly. Storage by fsp (my_time.cc my_time_packed_to_binary):
        // fsp 0-4 store a 3-byte BE intpart (packed >> 24, offset 2^23)
        // plus 0/1/2 SIGNED BE bytes of packed%2^24 scaled down to
        // centi-/hundred-µs units; fsp 5-6 store all of packed+2^47 in
        // 6 BE bytes. mysqld defaults TIME to fsp=0 (meta 0).
        // fsp 1-4 negatives: intpart is the FLOOR shift but the frac
        // byte/short is the TRUNCATED mod of packed — inconsistent
        // decompositions, reconciled exactly like mysqld: when
        // intpart < 0 and frac != 0, bump intpart by one and read the
        // frac as its negative complement
        def fracAdjusted(ip: Long, u: Int, mod: Int, scale: Long): Long =
          if (ip < 0 && u != 0) ((ip + 1) << 24) + (u - mod).toLong * scale
          else (ip << 24) + u.toLong * scale
        val raw = meta match {
          case 0 => (c.beU(3) - 0x800000L) << 24
          case 1 | 2 =>
            fracAdjusted(c.beU(3) - 0x800000L, c.u8(), 0x100, 10000L)
          case 3 | 4 =>
            val ip = c.beU(3) - 0x800000L
            fracAdjusted(ip, (c.u8() << 8) | c.u8(), 0x10000, 100L)
          case 5 | 6 => c.beU(6) - 0x800000000000L
          case m => throw new IOException(s"TIME2 fsp $m out of range")
        }
        val abs = math.abs(raw)
        val intpart = abs >> 24
        val frac = abs & 0xffffff
        val h = (intpart >> 12) & 0x3ff
        val m = (intpart >> 6) & 0x3f
        val s = intpart & 0x3f
        val micros = (h * 3600L + m * 60L + s) * 1000000L + frac
        sink.setLong(col, if (raw < 0) -micros else micros)
      case ColType.Timestamp2 =>
        // 4-byte BE unix seconds + big-endian fractional (fsp in meta).
        // seconds 0 = the zero-date (TIMESTAMP's range starts at
        // 00:00:01; see legacy Timestamp) -> null; a nonzero fraction
        // under zero seconds is not a value mysqld can store
        val sec = c.beU(4)
        val frac = readFrac(c, meta)
        if (sec != 0L) sink.setLong(col, sec * 1000000L + frac)
        else if (frac != 0L) throw new IOException(
          s"TIMESTAMP2 zero seconds with nonzero fraction $frac")
      case ColType.Datetime2 =>
        // 5-byte BE packed intpart (offset by 0x8000000000) + fractional
        val packed = c.beU(5) - 0x8000000000L
        val ymd = (packed >> 17).toInt
        val hms = (packed & 0x1ffff).toInt
        val ym = ymd >> 5
        val frac = readFrac(c, meta) // consume even when the value nulls
        // mysqld stores '0000-00-00 00:00:00' (and zero-in-date parts)
        // as a real DATETIME2 value — packed 0 is the zero-datetime;
        // month/day 0 have no calendar form -> SQL null
        if (ym % 13 != 0 && (ymd & 31) != 0)
          sink.setLong(col, dateTimeMicros(ym / 13, ym % 13, ymd & 31,
            hms >> 12, (hms >> 6) & 63, hms & 63, "DATETIME2", pos) + frac)
      case ColType.NewDecimal => readDecimal(c, meta, col, sink, pos)
      case ColType.Enum => readEnum(c, mt, i, col, sink)
      case ColType.SetT => readSet(c, mt.map, i, col, sink)
      case other => throw new IOException(s"unsupported MySQL column type $other")
    }

    // the NEWDECIMAL walk's cursor and accumulators (decoder-local, so
    // the per-group step allocates nothing)
    private var decAt = 0
    private var decLong = 0L
    private var decBig: java.math.BigInteger = null

    /** NEWDECIMAL (the decimal2bin layout, see [[ColType]]): precision
      * <= 18 decodes straight from the digit groups into the unscaled
      * long of Spark's compact Decimal; wider values accumulate in a
      * BigInteger. A group at or past 10^digits is bytes mysqld's
      * bin2decimal rejects too: without a CRC nothing else would catch
      * it, so it fails loud here. */
    private def readDecimal(c: Cur, meta: Int, col: Int, sink: RowSink,
        pos: Long): Unit = {
      val precision = meta >> 8; val scale = meta & 0xff
      val intg = precision - scale
      val start = span(c, ColType.decimalBinSize(precision, scale), pos)
      // MSB clear ⇒ negative: every byte is complemented
      val mask = if ((c.a(start) & 0x80) == 0) 0xff else 0
      decAt = start
      decLong = 0L
      decBig = if (precision > 18) java.math.BigInteger.ZERO else null
      val intgX = intg % 9
      if (intgX > 0) decGroup(c.a, mask, 0x80, ColType.Dig2Bytes(intgX), intgX, pos)
      var g = intg / 9 + scale / 9
      while (g > 0) {
        decGroup(c.a, mask, if (decAt == start) 0x80 else 0, 4, 9, pos)
        g -= 1
      }
      val fracX = scale % 9
      if (fracX > 0)
        decGroup(c.a, mask, if (decAt == start) 0x80 else 0,
          ColType.Dig2Bytes(fracX), fracX, pos)
      if (decBig == null)
        sink.setDecimal(col, if (mask != 0) -decLong else decLong, precision, scale)
      else sink.setDecimal(col, Decimal(new java.math.BigDecimal(
        if (mask != 0) decBig.negate() else decBig, scale), precision, scale))
    }

    /** One big-endian digit group of `nBytes` at `decAt`, unmasked
      * (`flip` = 0x80 for the value's first group: its first byte's
      * sign bit), checked against its digit count and folded into the
      * accumulator. */
    private def decGroup(a: Array[Byte], mask: Int, flip: Int, nBytes: Int,
        digits: Int, pos: Long): Unit = {
      var v = ((a(decAt) ^ mask ^ flip) & 0xff).toLong
      var k = 1
      while (k < nBytes) { v = (v << 8) | ((a(decAt + k) ^ mask) & 0xff); k += 1 }
      decAt += nBytes
      val bound = Pow10(digits)
      if (v >= bound) throw new IOException(
        s"NEWDECIMAL at log offset $pos: digit group $v does not fit " +
          s"$digits digits — corrupt value (mysqld's bin2decimal rejects it)")
      if (decBig == null) decLong = decLong * bound + v
      else decBig = decBig.multiply(java.math.BigInteger.valueOf(bound))
        .add(java.math.BigInteger.valueOf(v))
    }

    /** ENUM: 1/2-byte 1-based member index. With FULL metadata the
      * label string surfaces (index 0, mysqld's invalid-value marker,
      * surfaces as the empty string — the same text mysql renders);
      * under MINIMAL the raw index does. An index past the member list
      * fails loud rather than guessing. */
    private def readEnum(c: Cur, mt: MappedTable, i: Int, col: Int,
        sink: RowSink): Unit = {
      val idx = mt.map.colMeta(i) match {
        case 1 => c.u8()
        case 2 => c.u16()
        case m => throw new IOException(s"bad ENUM pack length $m")
      }
      mt.enumUtf8.get(i) match {
        case None => sink.setInt(col, idx)
        case Some(labels) =>
          if (idx == 0) sink.setString(col, UTF8String.EMPTY_UTF8)
          else if (idx <= labels.length) sink.setString(col, labels(idx - 1))
          else throw new IOException(
            s"ENUM index $idx out of range (${labels.length} members) " +
              s"in ${mt.map.db}.${mt.map.table} col $i")
      }
    }

    /** SET: little-endian member bitmask (1-8 bytes, LSB = first
      * member). With FULL metadata the comma-joined member list in
      * declaration order surfaces (mysql's text form); under MINIMAL
      * the raw bitmask does. Bits past the member list fail loud. */
    private def readSet(c: Cur, tm: MysqlTableMap, i: Int, col: Int,
        sink: RowSink): Unit = {
      val bytes = tm.colMeta(i)
      var bits = 0L
      var b = 0
      while (b < bytes) { bits |= (c.u8().toLong << (8 * b)); b += 1 }
      tm.setLabels.get(i) match {
        case None => sink.setLong(col, bits)
        case Some(labels) =>
          if (labels.length < 64 && (bits >>> labels.length) != 0)
            throw new IOException(
              s"SET bitmask 0x${bits.toHexString} has bits past the " +
                s"${labels.length}-member list in ${tm.db}.${tm.table} col $i")
          val sb = new java.lang.StringBuilder
          var m = 0
          while (m < labels.length) {
            if ((bits & (1L << m)) != 0) {
              if (sb.length > 0) sb.append(',')
              sb.append(labels(m))
            }
            m += 1
          }
          sink.setString(col, UTF8String.fromString(sb.toString))
      }
    }

    /** Fractional seconds: ceil(fsp/2) big-endian bytes holding the
      * fraction in units of 10^(2·bytes−6) seconds — mysqld scales the
      * fraction by BYTES, not digits (my_timestamp_from_binary /
      * my_datetime_packed_from_binary): 1 byte = centiseconds, 2 bytes
      * = hundred-µs, 3 bytes = µs. An odd fsp (1/3/5) therefore shares
      * its even neighbor's unit — reading it as 10^-fsp units would
      * misdecode every DATETIME(3) fraction by 10x. */
    private def readFrac(c: Cur, fsp: Int): Long = {
      val bytes = (fsp + 1) / 2
      if (bytes == 0) 0L else c.beU(bytes) * Pow10(6 - 2 * bytes)
    }
    private def skipValue(c: Cur, tpe: Int, meta: Int): Unit = tpe match {
      case ColType.Tiny => c.skip(1)
      case ColType.Short => c.skip(2)
      case ColType.Int24 | ColType.Time => c.skip(3)
      case ColType.Long | ColType.Float | ColType.Timestamp => c.skip(4)
      case ColType.LongLong | ColType.Double | ColType.DateTime => c.skip(8)
      case ColType.Varchar | ColType.String254 =>
        val len = if (meta < 256) c.u8() else c.u16(); c.skip(len)
      case ColType.Blob | ColType.Json | ColType.Geometry =>
        val len = meta match {
          case 1 => c.u8().toLong
          case 2 => c.u16().toLong
          case 3 => c.u24().toLong
          case 4 => c.u32()
          case m => throw new IOException(s"bad BLOB length-byte count $m")
        }
        c.skip(len.toInt)
      case ColType.Date => c.skip(3)
      case ColType.Year => c.skip(1)
      case ColType.Bit => c.skip((meta + 7) / 8)
      case ColType.Timestamp2 => c.skip(4 + (meta + 1) / 2)
      case ColType.Datetime2 => c.skip(5 + (meta + 1) / 2)
      case ColType.Time2 => c.skip(3 + (meta + 1) / 2)
      case ColType.NewDecimal =>
        c.skip(ColType.decimalBinSize(meta >> 8, meta & 0xff))
      case ColType.Enum | ColType.SetT => c.skip(meta) // meta = pack length
      case other => throw new IOException(s"unsupported MySQL column type $other")
    }
  }

  // ------------------------------------------------------ PREVIOUS_GTIDS

  /** Parse a PREVIOUS_GTIDS payload: the gtid set executed before this
    * file (`Gtid_set::encode`, public wire layout). Classic layout:
    * n_sids u64le, then per sid: sid(16) + n_intervals u64le + per
    * interval (start u64le inclusive, end u64le EXCLUSIVE).
    *
    * MySQL 8.3+ with GTID TAGS in use (WL#15588) writes the TAGGED
    * format instead: the MOST SIGNIFICANT byte of the n_sids field
    * carries the set format (0 = classic, 1 = tagged — pre-8.3 servers
    * never near 2^56 sids, so the byte reads 0 on every classic log),
    * and each entry is a TSID — sid(16) + tag(u8 length + ascii chars,
    * length 0 for the uuid's untagged stream) — followed by the same
    * interval block. The same uuid legitimately appears once per
    * distinct tag, each with its OWN gno interval set.
    *
    * Returns stream identity → sorted disjoint [start, end) intervals,
    * where the identity is the `uuid` / `uuid:tag` string the row
    * decoder stamps into `__source_id` (so bounds subtraction in
    * [[fileGtidBounds]] is per-stream, matching gno uniqueness). An
    * unknown format byte throws — readPreviousGtids maps it to None
    * (file unprunable — conservative, never wrong). */
  def parsePreviousGtids(payload: Array[Byte]): Map[String, Seq[(Long, Long)]] = {
    val c = new Cur(payload)
    val nSidsRaw = c.i64()
    val format = ((nSidsRaw >>> 56) & 0xff).toInt
    val nSids = nSidsRaw & 0x00ffffffffffffffL
    require(format == 0 || format == 1,
      s"unknown PREVIOUS_GTIDS set format $format — a newer encoding " +
        "than this parser understands; refusing to derive prune bounds")
    // Plausibility guards: garbage counts would misread into garbage
    // interval BOUNDS, and garbage bounds silently mis-prune files.
    // Each classic entry needs >= 16+8 bytes, each tagged entry >=
    // 16+1+8; an implausible count means corruption: throw, and
    // readPreviousGtids maps it to None.
    val minEntry = if (format == 1) 25 else 24
    require(nSids >= 0 && nSids <= c.remaining / minEntry,
      s"implausible PREVIOUS_GTIDS sid count $nSids for ${c.remaining} " +
        "payload bytes — corrupt encoding")
    val out = (0L until nSids).map { _ =>
      val sid = formatUuid(c.bytes(16))
      val key =
        if (format == 1) {
          val tagLen = c.u8()
          require(tagLen <= 32 && tagLen <= c.remaining,
            s"implausible PREVIOUS_GTIDS tag length $tagLen")
          if (tagLen == 0) sid
          else sid + ":" + new String(c.bytes(tagLen), StandardCharsets.US_ASCII)
        } else sid
      val nIv = c.i64()
      require(nIv >= 0 && nIv <= c.remaining / 16,
        s"implausible PREVIOUS_GTIDS interval count $nIv")
      key -> (0L until nIv).map(_ => (c.i64(), c.i64())).toSeq
    }.toMap
    // well-formed payloads are exactly consumed; trailing bytes mean an
    // encoding this parser doesn't understand — refuse to prune on it
    require(c.remaining == 0,
      s"${c.remaining} undecoded PREVIOUS_GTIDS bytes — unknown encoding")
    out
  }

  // ------------------------------------------- tagged GTIDs (MySQL 8.3+)

  /** Prefix-varint of the `mysql::serialization` binary archive
    * (WL#15304, mysql-server `libs/mysql/serialization`): the count of
    * consecutive set low bits in the FIRST byte, up to the first clear
    * bit, is the number of ADDITIONAL bytes; the remaining bits of the
    * little-endian byte group, shifted right past the marker, are the
    * value. 9-byte form: first byte 0xFF, then 8 raw LE value bytes. */
  private def readSvar(c: Cur): Long = {
    require(c.remaining >= 1, "truncated varint")
    val first = c.u8()
    var n = 0
    while (n < 8 && ((first >> n) & 1) == 1) n += 1
    require(c.remaining >= n, s"truncated varint ($n extra bytes)")
    if (n == 8) {
      var v = 0L
      var i = 0
      while (i < 8) { v |= (c.u8().toLong << (8 * i)); i += 1 }
      v
    } else {
      var word = first.toLong
      var i = 0
      while (i < n) { word |= (c.u8().toLong << (8 * (i + 1))); i += 1 }
      word >>> (n + 1)
    }
  }

  /** Array-level svar codec, for spec round-trips and external golden
    * authoring checks. Decode returns (value, bytes consumed). */
  private[graft] def svarEncode(v: Long): Array[Byte] = {
    val b = new ByteBuf
    writeSvar(b, v)
    java.util.Arrays.copyOf(b.arr, b.size)
  }
  private[graft] def svarDecode(a: Array[Byte]): (Long, Int) = {
    val c = new Cur(a)
    val v = readSvar(c)
    (v, c.p)
  }

  private def writeSvar(b: ByteBuf, v: Long): Unit = {
    var n = 0
    while (n < 8 && java.lang.Long.compareUnsigned(v,
        1L << (7 * (n + 1))) >= 0) n += 1
    if (n == 8) {
      b.u8(0xff)
      b.i64(v)
    } else {
      val word = (v << (n + 1)) | ((1L << n) - 1)
      var i = 0
      while (i <= n) { b.u8(((word >> (8 * i)) & 0xff).toInt); i += 1 }
    }
  }

  /** GTID_TAGGED_LOG_EVENT (type 42, MySQL 8.3+/8.4 LTS) body: the
    * `mysql::serialization` field stream of `Gtid_event` — field_id
    * varint then payload, in the source's field order (mysql-server
    * `libs/mysql/binlog/event/control_events.h`; the reference's GTID
    * capture at binlog_table_reader.cc:410-416 predates tags entirely,
    * so this surface is ours):
    *
    *   0 uuid (16 raw bytes)       5 immediate_commit_timestamp
    *   1 tag (varint len + ascii)  6 original_commit_timestamp
    *   2 gno (varint)              7 transaction_length
    *   3 last_committed            8 immediate_server_version
    *   4 sequence_number           9 original_server_version
    *   10 commit_group_ticket (optional)
    *
    * Only (uuid, tag, gno) feed the envelope; the numeric trailers are
    * read-and-ignored. An UNKNOWN field id fails loud: its payload
    * kind is undecidable, and guessing would desynchronize the stream
    * right before the transaction's row events — the exact silent-
    * corruption class the identity scope exists to prevent.
    * Returns (formatted uuid, tag, gno). */
  private[graft] def parseTaggedGtid(payload: Array[Byte], pos: Long): (String, String, Long) = {
    val c = new Cur(payload)
    var uuid: String = null
    var tag: String = ""
    var gno = -1L
    var gnoSeen = false
    while (c.remaining > 0) {
      val id = readSvar(c)
      id match {
        case 0 => uuid = formatUuid(c.bytes(16))
        case 1 =>
          val len = readSvar(c).toInt
          require(len >= 0 && len <= c.remaining, s"bad tag length $len")
          tag = new String(c.bytes(len), StandardCharsets.US_ASCII)
        case 2 => gno = readSvar(c); gnoSeen = true
        case n if n >= 3 && n <= 10 => readSvar(c)
        case n => throw new IOException(
          s"tagged GTID event at log offset $pos carries unknown field " +
            s"id $n: a newer server serialization than this decoder " +
            "understands — refusing to guess the field layout of a " +
            "transaction-identity event")
      }
    }
    if (uuid == null || !gnoSeen) throw new IOException(
      s"tagged GTID event at log offset $pos is missing its " +
        s"${if (uuid == null) "uuid" else "gno"} field")
    (uuid, tag, gno)
  }

  /** First event of type `tpe` among a file's leading control events
    * (row events never precede the file-start state events in a real
    * binlog), parsed by `parse`. ANY failure — including the reader
    * CONSTRUCTOR on a torn-magic / zero-byte mid-rotation tail — maps
    * to None: these scans feed PRUNING metadata, where unreadable must
    * mean unprunable, never a planning-time crash. */
  private def scanLeadingEvent(path: String, maria: Boolean, tpe: Byte)(
      parse: Array[Byte] => Map[String, Seq[(Long, Long)]])
      : Option[Map[String, Seq[(Long, Long)]]] = {
    var r: EventReader = null
    try {
      r = new EventReader(path, maria)
      var scanned = 0
      while (r.hasNext && scanned < 8) { // FDE + a few control events
        val ev = r.next()
        if (ev.tpe == tpe) return Some(parse(ev.payload))
        scanned += 1
      }
      None
    } catch {
      case scala.util.control.NonFatal(_) => None // unreadable: unprunable
    } finally if (r != null) r.close()
  }

  /** First PREVIOUS_GTIDS event of a file. */
  def readPreviousGtids(path: String): Option[Map[String, Seq[(Long, Long)]]] =
    scanLeadingEvent(path, maria = false, EventType.PreviousGtids)(
      parsePreviousGtids)

  /** Per-file gtid bounds from consecutive files' PREVIOUS_GTIDS sets:
    * file i's transactions are exactly S(i+1) \ S(i), so its gno range
    * is the min/max of that set difference — file pruning for
    * __gtid-range scans using ONLY metadata mysqld itself writes (the
    * reference's commented-out PREVIOUS_GTIDS block at
    * binlog_table_reader.cc:418-425 never landed; this is what it was
    * for). The LAST file has no successor set → unprunable (None), as
    * is any file pair missing the event. A file whose difference is
    * EMPTY committed no transactions: bounds (0, -1) — an empty range
    * that any gtid predicate prunes (a filterless scan still reads the
    * file, which is correct: it may hold non-transactional events). */
  def fileGtidBounds(files: Seq[String]): Seq[Option[(Long, Long)]] =
    boundsFromStateSets(files.map(readPreviousGtids))

  /** MariaDB GTID_LIST payload — the PREVIOUS_GTIDS analogue mysqld's
    * fork writes at every binlog's start (public layout: u32 whose low
    * 28 bits count entries, high 4 bits are flags; then per entry
    * domain_id u32 + server_id u32 + seq_no u64). The list is the
    * binlog STATE: the last seq_no per (domain, server). seq_no is one
    * monotone counter PER DOMAIN (servers share it), so the executed
    * set reduces to domain → [1, max_seq+1) — the same interval
    * vocabulary [[fileGtidBounds]] subtracts. Plausibility-guarded
    * like parsePreviousGtids: garbage counts must throw (→ unprunable),
    * never produce garbage bounds. */
  def parseGtidList(payload: Array[Byte]): Map[String, Seq[(Long, Long)]] = {
    val c = new Cur(payload)
    val countFlags = c.u32()
    val count = (countFlags & 0x0fffffffL).toInt
    require(count >= 0 && count <= c.remaining / 16,
      s"implausible GTID_LIST entry count $count for ${c.remaining} " +
        "payload bytes — corrupt encoding")
    val maxByDomain = scala.collection.mutable.Map.empty[Long, Long]
    var i = 0
    while (i < count) {
      val domain = c.u32()
      c.u32() // server_id: per-domain counters are what bounds need
      val seq = c.i64()
      maxByDomain(domain) = math.max(maxByDomain.getOrElse(domain, 0L), seq)
      i += 1
    }
    require(c.remaining == 0,
      s"${c.remaining} undecoded GTID_LIST bytes — unknown encoding")
    maxByDomain.map { case (d, mx) =>
      d.toString -> (if (mx > 0) Seq((1L, mx + 1)) else Nil)
    }.toMap
  }

  /** First GTID_LIST event of a MariaDB file. */
  def readMariaGtidState(path: String): Option[Map[String, Seq[(Long, Long)]]] =
    scanLeadingEvent(path, maria = true, EventType.MariaGtidList)(parseGtidList)

  /** MariaDB per-file gtid bounds: consecutive files' GTID_LIST states
    * subtract exactly like PREVIOUS_GTIDS sets — file i's seq_no range
    * is S(i+1) \ S(i) per domain. */
  def mariaFileGtidBounds(files: Seq[String]): Seq[Option[(Long, Long)]] =
    boundsFromStateSets(files.map(readMariaGtidState))

  private def boundsFromStateSets(
      sets: Seq[Option[Map[String, Seq[(Long, Long)]]]]): Seq[Option[(Long, Long)]] = {
    val files = sets.indices
    if (sets.isEmpty) return Nil
    files.map { i =>
      if (i + 1 >= files.length) None
      else (sets(i), sets(i + 1)) match {
        case (Some(cur), Some(next)) =>
          var lo = Long.MaxValue; var hi = Long.MinValue
          next.foreach { case (sid, nextIvs) =>
            val curIvs = cur.getOrElse(sid, Nil)
            subtractIntervals(nextIvs, curIvs).foreach { case (s, e) =>
              if (s < lo) lo = s
              if (e - 1 > hi) hi = e - 1
            }
          }
          if (lo == Long.MaxValue) Some((0L, -1L)) // no new gtids: empty range
          else Some((lo, hi))
        case _ => None
      }
    }
  }

  /** `a` minus `b` over sorted disjoint [start, end) interval lists.
    * Two-pointer merge, O(|a| + |b|): the earlier nested-loop form was
    * O(|a|·|b|), and it runs at PLANNING time on the driver
    * (a batch scan's CdcLogSnapshot → filesMeta → fileGtidBounds) — with
    * a gappy executed set (tens of thousands of intervals per
    * PREVIOUS_GTIDS) the quadratic subtract was ~70% of cdc21's
    * steady-state wall (r17 jstack sampling). Semantics unchanged:
    * same clipped difference over the same sorted disjoint inputs. */
  private[graft] def subtractIntervals(a: Seq[(Long, Long)],
      b: Seq[(Long, Long)]): Seq[(Long, Long)] = {
    val out = Seq.newBuilder[(Long, Long)]
    val bi = b.iterator.buffered
    a.foreach { case (s0, e0) =>
      var s = s0
      // drop b-intervals entirely before this a-interval; b is sorted
      // and a is sorted, so the iterator never needs to rewind
      while (bi.hasNext && bi.head._2 <= s) bi.next()
      var open = true
      while (open && bi.hasNext && bi.head._1 < e0) {
        val (bs, be) = bi.head
        if (bs > s) out += ((s, bs))
        s = math.max(s, be)
        if (be <= e0) bi.next() else open = false
      }
      if (s < e0) out += ((s, e0))
    }
    out.result().filter(iv => iv._1 < iv._2)
  }

  def formatUuid(sid: Array[Byte]): String = {
    val bb = java.nio.ByteBuffer.wrap(sid)
    new java.util.UUID(bb.getLong, bb.getLong).toString
  }

  def uuidBytes(uuid: String): Array[Byte] = {
    val u = java.util.UUID.fromString(uuid)
    val bb = java.nio.ByteBuffer.allocate(16)
    bb.putLong(u.getMostSignificantBits).putLong(u.getLeastSignificantBits)
    bb.array()
  }

  /** Newest matching TABLE_MAP's schema, like
    * [[CdcCodec.inferSourceSchema]]. Requires FULL row metadata (column
    * names) — a MINIMAL-metadata log has types but no names, so schema
    * inference fails loud and the caller must supply an explicit schema
    * (the DSv2 provider supports external metadata). */
  def inferSourceSchema(indexFile: String, db: String, table: String,
      maria: Boolean = false): Option[StructType] = {
    CdcCodec.readIndex(indexFile).reverseIterator.flatMap { f =>
      val r = new EventReader(f, maria)
      try {
        var res: Option[MysqlTableMap] = None
        def consider(ev: CdcCodec.RawEvent): Unit =
          if (ev.tpe == EventType.TableMap) {
            val tm = parseTableMap(ev.payload)
            if (tm.db == db && tm.table == table) res = Some(tm)
          } else if (ev.tpe == EventType.TransactionPayload) {
            // a real mysqld with txn compression puts EVERY TABLE_MAP
            // inside payload events — unwrap for inference too
            unwrapPayload(ev).foreach(consider)
          }
        while (r.hasNext) consider(r.next())
        res
      } finally r.close()
    }.nextOption().map { tm =>
      if (tm.names.isEmpty)
        throw new IllegalArgumentException(
          s"MySQL TABLE_MAP for $db.$table carries no column names " +
            "(producer logged binlog_row_metadata=MINIMAL); pass an explicit " +
            "schema via spark.read.schema(...)")
      tm.sparkSchema(i => s"_c$i")
    }
  }

  /** Catalog listing: the newest mapping file's TABLE_MAPs
    * (payload-inner ones included — a compressed-txn log keeps every
    * TABLE_MAP inside its TRANSACTION_PAYLOADs), walking back past
    * freshly-rotated empty files until one maps something (a
    * mid-rotation zero-byte tail is skipped by length, never opened).
    * mysqld re-emits TABLE_MAP per transaction, so one file names the
    * active tables; bounded I/O at any log size. */
  def listTables(indexFile: String, maria: Boolean = false): Seq[(String, String)] =
    CdcCodec.readIndex(indexFile).reverseIterator
      .filter(f => LogFs.lenOrZero(f) > MagicLen).map { f =>
      val r = new EventReader(f, maria)
      try {
        val out = scala.collection.mutable.LinkedHashSet.empty[(String, String)]
        def consider(ev: CdcCodec.RawEvent): Unit =
          if (ev.tpe == EventType.TableMap) {
            val tm = parseTableMap(ev.payload)
            out += ((tm.db, tm.table))
          } else if (ev.tpe == EventType.TransactionPayload)
            unwrapPayload(ev).foreach(consider)
        while (r.hasNext) consider(r.next())
        out.toSeq
      } finally r.close()
    }.find(_.nonEmpty).getOrElse(Nil)

  // ---------------------------------------------------------------- writer

  /** Fixture producer writing REAL MySQL binlog v4 bytes (the mysqld
    * stand-in for tests, same role as [[CdcCodec.LogWriter]]). Emits the
    * magic, a FORMAT_DESCRIPTION event (checksum algorithm 0 or CRC32),
    * FULL optional metadata (column names) in TABLE_MAP, and v2 rows
    * events. Value conventions match the engine's internal
    * representation: Long/Int/Double/Float/Short/Byte primitives,
    * String/UTF8String for VARCHAR, Array[Byte] for BLOB, micros-Long
    * for TIMESTAMP2/DATETIME2 (fsp per `dtFsp`, default 6), epoch-day
    * Int for DATE. */
  /** @param fullMetadata write the FULL-only MySQL-8.0 optional-metadata
    *        TLVs (COLUMN_NAME + ENUM/SET_STR_VALUE —
    *        `binlog_row_metadata=FULL`). `false` mimics the PRODUCTION
    *        DEFAULT (`MINIMAL`): mysqld still logs SIGNEDNESS (and
    *        charset/geometry-type) under MINIMAL — only names, enum/set
    *        label lists, and PK info are FULL-only — so SIGNEDNESS is
    *        emitted unconditionally; readers must supply an explicit
    *        schema (matched positionally by type) when names are
    *        absent. */
  final class Writer(path: String, serverId: Long = 1L,
      checksum: Boolean = false,
      varcharMeta: String => Int = _ => 65535,
      fullMetadata: Boolean = true,
      compressTxns: Boolean = false,
      unsignedCols: Set[String] = Set.empty,
      charCols: Map[String, Int] = Map.empty,
      jsonCols: Set[String] = Set.empty,
      enumCols: Map[String, IndexedSeq[String]] = Map.empty,
      setCols: Map[String, IndexedSeq[String]] = Map.empty,
      yearCols: Set[String] = Set.empty,
      bitCols: Map[String, Int] = Map.empty,
      timeCols: Set[String] = Set.empty,
      timeFsp: Map[String, Int] = Map.empty,
      int24Cols: Set[String] = Set.empty,
      legacyTimeCols: Set[String] = Set.empty,
      legacyDatetimeCols: Set[String] = Set.empty,
      legacyTimestampCols: Set[String] = Set.empty,
      dtFsp: Map[String, Int] = Map.empty,
      maria: Boolean = false) extends FixtureSink {
    timeFsp.foreach { case (n, fsp) =>
      require(fsp >= 0 && fsp <= 6, s"$n: TIME2 fsp $fsp outside 0..6") }
    // dtFsp: declared fsp for DATETIME2/TIMESTAMP2 columns (default 6)
    dtFsp.foreach { case (n, fsp) =>
      require(fsp >= 0 && fsp <= 6, s"$n: DATETIME2/TIMESTAMP2 fsp $fsp outside 0..6") }
    bitCols.foreach { case (n, bits) =>
      require(bits >= 1 && bits <= 64, s"$n: BIT($bits) outside 1..64") }
    enumCols.foreach { case (n, ls) =>
      require(ls.nonEmpty && ls.length <= 0xffff, s"$n: bad ENUM member count") }
    setCols.foreach { case (n, ls) =>
      require(ls.nonEmpty && ls.length <= 64, s"$n: SET allows at most 64 members") }
    private val out = new BufferedOutputStream(new FileOutputStream(path), 1 << 16)
    out.write(Magic)
    // the v4 header's originating server id — settable mid-log so a
    // MariaDB fixture can interleave multi-master writers (the
    // domain-SERVER-seq identity triple names the writer in the header)
    var currentServerId: Long = serverId
    private var pos: Long = MagicLen.toLong
    // compressTxns: between two GTIDs, row-level events buffer here and
    // flush as ONE zstd TRANSACTION_PAYLOAD event (binlog_transaction_
    // compression=ON), headers included, no inner CRCs — mysqld's layout
    private var innerBuf: ByteBuf = null
    private var innerTs: Long = 0L

    formatDescription()

    /** Row-level events (TABLE_MAP/rows): into the open transaction
      * buffer when compressing, straight to the file otherwise. */
    private def writeRowLevelEvent(tpe: Byte, tsMs: Long)(
        body: ByteBuf => Unit): Unit =
      if (innerBuf != null) {
        val b = new ByteBuf
        body(b)
        val eventSize = HeaderLen + b.size
        val h = innerBuf
        h.u32(tsMs / 1000)
        h.u8(tpe & 0xff)
        h.u32(currentServerId)
        h.u32(eventSize.toLong)
        h.u32(0L) // log_pos: 0 for payload-inner events
        h.u16(0) // flags
        h.raw(b.arr, b.size)
      } else writeEvent(tpe, tsMs)(body)

    /** Close the open transaction: compress its inner event stream and
      * emit one TRANSACTION_PAYLOAD (TLV header, then zstd bytes). */
    private def flushTxn(): Unit = if (innerBuf != null) {
      if (innerBuf.size > 0) {
        val raw = java.util.Arrays.copyOf(innerBuf.arr, innerBuf.size)
        val compressed = com.github.luben.zstd.Zstd.compress(raw, 3)
        writeEvent(EventType.TransactionPayload, innerTs) { b =>
          b.lenenc(PayloadCompressionType); b.lenenc(1L); b.u8(CompressionZstd)
          val sz = new ByteBuf; sz.lenenc(raw.length.toLong)
          b.lenenc(PayloadUncompressedSize); b.lenenc(sz.size.toLong)
          b.raw(sz.arr, sz.size)
          b.lenenc(PayloadEndMark)
          b.raw(compressed)
        }
      }
      innerBuf = null
    }

    private def writeEvent(tpe: Byte, tsMs: Long)(body: ByteBuf => Unit): Unit = {
      val b = new ByteBuf
      body(b)
      val crcLen = if (checksum) 4 else 0
      val eventSize = HeaderLen + b.size + crcLen
      // v4 log_pos is u32: a real mysqld rotates at max_binlog_size
      // (<= 1 GiB) long before this; the fixture writer fails loud
      // rather than writing a wrapped position
      require(pos + eventSize <= 0xffffffffL,
        s"$path: binlog file would exceed the 4 GiB v4 log_pos range — rotate")
      val h = new ByteBuf
      h.u32(tsMs / 1000)
      h.u8(tpe & 0xff)
      h.u32(currentServerId)
      h.u32(eventSize.toLong)
      h.u32(pos + eventSize) // log_pos = end of this event (<4 GiB files)
      h.u16(0) // flags
      out.write(h.arr, 0, h.size)
      out.write(b.arr, 0, b.size)
      if (checksum) {
        val crc = new CRC32()
        crc.update(h.arr, 0, h.size)
        crc.update(b.arr, 0, b.size)
        val t = new ByteBuf; t.u32(crc.getValue)
        out.write(t.arr, 0, t.size)
      }
      pos += eventSize
    }

    private def formatDescription(): Unit = writeEvent(EventType.FormatDescription, 0L) { b =>
      b.u16(4) // binlog_version
      val ver = (if (maria) "10.11.6-MariaDB-graft-log" else "8.0.36-graft")
        .getBytes(StandardCharsets.US_ASCII)
      b.raw(java.util.Arrays.copyOf(ver, 50)) // NUL-padded server_version
      b.u32(0) // create_timestamp
      b.u8(HeaderLen)
      // post-header lengths for event types 1..38 (the ones we emit are
      // accurate; the rest are 0 — parsers decode payloads self-described)
      val ph = new Array[Byte](38)
      ph(EventType.Query - 1) = 13
      ph(EventType.Rotate - 1) = 8
      ph(EventType.FormatDescription - 1) = 84
      ph(EventType.TableMap - 1) = 8
      ph(EventType.WriteRowsV2 - 1) = 10
      ph(EventType.UpdateRowsV2 - 1) = 10
      ph(EventType.DeleteRowsV2 - 1) = 10
      ph(EventType.Gtid - 1) = 42
      ph(EventType.AnonymousGtid - 1) = 42
      b.raw(ph)
      b.u8(if (checksum) 1 else 0) // checksum algorithm descriptor
      // NOTE: the 4 CRC bytes (when enabled) are appended by writeEvent
      // over header+body INCLUDING this descriptor byte — matching how
      // the reader verifies.
    }

    def tableMap(tsMs: Long, tableId: Long, db: String, table: String,
        schema: StructType): Unit = writeRowLevelEvent(EventType.TableMap, tsMs) { b =>
      b.u48(tableId)
      b.u16(1) // flags
      val dbB = db.getBytes(StandardCharsets.UTF_8)
      val tbB = table.getBytes(StandardCharsets.UTF_8)
      require(dbB.length < 256 && tbB.length < 256, "db/table name too long")
      b.u8(dbB.length); b.raw(dbB); b.u8(0)
      b.u8(tbB.length); b.raw(tbB); b.u8(0)
      b.lenenc(schema.length.toLong)
      // ENUM/SET ride in a STRING slot on the wire (real type in meta)
      schema.fields.foreach(f => b.u8(wireType(f) match {
        case ColType.Enum | ColType.SetT => ColType.String254
        case t => t
      }))
      val meta = new ByteBuf
      schema.fields.foreach { f =>
        wireType(f) match {
          case ColType.Varchar => meta.u16(varcharMeta(f.name))
          case ColType.Enum =>
            meta.u8(ColType.Enum)
            meta.u8(if (enumCols(f.name).length < 256) 1 else 2)
          case ColType.SetT =>
            meta.u8(ColType.SetT)
            meta.u8((setCols(f.name).length + 7) / 8)
          case ColType.Float => meta.u8(4)
          case ColType.Double => meta.u8(8)
          case ColType.Blob => meta.u8(2) // 2 length bytes (BLOB/TEXT)
          case ColType.Json => meta.u8(4) // mysqld: 4 length bytes
          case ColType.Time2 => meta.u8(timeFsp.getOrElse(f.name, 6)) // fsp
          case ColType.Timestamp2 | ColType.Datetime2 =>
            meta.u8(dtFsp.getOrElse(f.name, 6)) // fsp
          case ColType.Bit =>
            val bits = bitCols(f.name)
            meta.u8(bits % 8); meta.u8(bits / 8)
          case ColType.NewDecimal =>
            val dt = f.dataType.asInstanceOf[DecimalType]
            meta.u8(dt.precision); meta.u8(dt.scale)
          case ColType.String254 =>
            val len = charCols(f.name)
            require(len >= 1 && len <= 1023, s"${f.name}: CHAR byte length $len")
            // inverse of the parse quirk: complement length bits 8-9
            // into type-byte bits 4-5 (identity when len <= 255)
            meta.u8(0xce | (((len >> 8) << 4) ^ 0x30)); meta.u8(len & 0xff)
          case _ => ()
        }
      }
      b.lenenc(meta.size.toLong)
      b.raw(meta.arr, meta.size)
      val nullBits = new Array[Byte]((schema.length + 7) / 8)
      schema.fields.zipWithIndex.foreach { case (f, i) =>
        if (f.nullable) nullBits(i / 8) = (nullBits(i / 8) | (1 << (i % 8))).toByte
      }
      b.raw(nullBits)
      // optional metadata. SIGNEDNESS is logged by mysqld under BOTH
      // binlog_row_metadata settings (MINIMAL keeps signedness/charset/
      // geometry-type; only COLUMN_NAME, ENUM/SET_STR_VALUE, and PK
      // fields are FULL-only) — so it is emitted unconditionally. The
      // signedness bitmap allocates one bit per numeric column in
      // column order, MSB first — the same accounting the parser uses
      // (decimal counts as numeric), so the bits line up.
      val numerics = schema.fields.filter(f => isNumericWire(wireType(f)))
      if (numerics.nonEmpty) {
        val sign = new Array[Byte]((numerics.length + 7) / 8)
        numerics.zipWithIndex.foreach { case (f, i) =>
          if (unsignedCols(f.name))
            sign(i / 8) = (sign(i / 8) | (0x80 >> (i % 8))).toByte
        }
        b.u8(MetaSignedness); b.lenenc(sign.length.toLong); b.raw(sign)
      }
      if (fullMetadata) {
        val names = new ByteBuf
        schema.fields.foreach { f =>
          val nb = f.name.getBytes(StandardCharsets.UTF_8)
          names.lenenc(nb.length.toLong); names.raw(nb)
        }
        b.u8(MetaColumnName); b.lenenc(names.size.toLong); b.raw(names.arr, names.size)
        // ENUM/SET member lists (one lenenc-count + strings group per
        // enum/set column, column order — what the parser replays)
        def strValues(tlv: Int, cols: Map[String, IndexedSeq[String]],
            wire: Int): Unit = if (cols.nonEmpty) {
          val v = new ByteBuf
          schema.fields.foreach { f =>
            if (wireType(f) == wire) {
              val labels = cols(f.name)
              v.lenenc(labels.length.toLong)
              labels.foreach { l =>
                val lb = l.getBytes(StandardCharsets.UTF_8)
                v.lenenc(lb.length.toLong); v.raw(lb)
              }
            }
          }
          b.u8(tlv); b.lenenc(v.size.toLong); b.raw(v.arr, v.size)
        }
        strValues(MetaSetStrValue, setCols, ColType.SetT)
        strValues(MetaEnumStrValue, enumCols, ColType.Enum)
      }
    }

    /** PREVIOUS_GTIDS: the executed-before set (mysqld writes this as
      * every binlog's second event; see [[parsePreviousGtids]] for the
      * layout). Call before any table/row events. */
    override def previousGtids(executed: Map[String, Seq[(Long, Long)]]): Unit =
      writeEvent(EventType.PreviousGtids, 0L) { b =>
        b.i64(executed.size.toLong)
        executed.toSeq.sortBy(_._1).foreach { case (sid, ivs) =>
          b.raw(uuidBytes(sid))
          b.i64(ivs.length.toLong)
          ivs.foreach { case (s, e) =>
            require(s < e, s"previousGtids: bad interval [$s, $e)")
            b.i64(s); b.i64(e)
          }
        }
      }

    /** PREVIOUS_GTIDS in the 8.3+ TAGGED set format (what a server with
      * any tagged gtids executed writes for EVERY sid — see
      * [[parsePreviousGtids]]): format byte 1 in the n_sids MSB, each
      * entry a TSID (uuid + length-prefixed tag). Keys are the
      * `uuid` / `uuid:tag` stream identities [[gtidTagged]] stamps. */
    def previousGtidsTagged(executed: Map[String, Seq[(Long, Long)]]): Unit =
      writeEvent(EventType.PreviousGtids, 0L) { b =>
        b.i64(executed.size.toLong | (1L << 56))
        executed.toSeq.sortBy(_._1).foreach { case (key, ivs) =>
          val (sid, tag) = key.indexOf(':') match {
            case -1 => (key, "")
            case i  => (key.substring(0, i), key.substring(i + 1))
          }
          require(tag.length <= 32, s"previousGtidsTagged: bad tag '$tag'")
          b.raw(uuidBytes(sid))
          b.u8(tag.length)
          b.raw(tag.getBytes(StandardCharsets.US_ASCII))
          b.i64(ivs.length.toLong)
          ivs.foreach { case (s, e) =>
            require(s < e, s"previousGtidsTagged: bad interval [$s, $e)")
            b.i64(s); b.i64(e)
          }
        }
      }

    def gtid(tsMs: Long, gno: Long, sourceId: String): Unit = {
      flushTxn()
      writeEvent(EventType.Gtid, tsMs) { b =>
        b.u8(1) // flags: commit-ordered
        b.raw(uuidBytes(sourceId))
        b.i64(gno)
        // 5.7+ logical clock trailer (readers ignore it; we write it for
        // layout fidelity): lt_type, last_committed, sequence_number
        b.u8(2); b.i64(gno - 1); b.i64(gno)
      }
      if (compressTxns) { innerBuf = new ByteBuf; innerTs = tsMs }
    }

    /** MySQL 8.3+ tagged GTID (GTID_TAGGED_LOG_EVENT, type 42): the
      * `mysql::serialization` field stream of [[parseTaggedGtid]]'s
      * scaladoc — field_id varint + payload per field, prefix-varint
      * integers. Tag grammar enforced as mysqld does ([a-z_][a-z0-9_]*,
      * max 32 chars, case-folded to lower). */
    def gtidTagged(tsMs: Long, gno: Long, sourceId: String, tag: String): Unit = {
      val t = tag.toLowerCase
      require(t.matches("[a-z_][a-z0-9_]{0,31}"), s"bad GTID tag '$tag'")
      flushTxn()
      writeEvent(EventType.GtidTagged, tsMs) { b =>
        writeSvar(b, 0L); b.raw(uuidBytes(sourceId))
        val tb = t.getBytes(StandardCharsets.US_ASCII)
        writeSvar(b, 1L); writeSvar(b, tb.length.toLong); b.raw(tb)
        writeSvar(b, 2L); writeSvar(b, gno)
        writeSvar(b, 3L); writeSvar(b, math.max(0L, gno - 1)) // last_committed
        writeSvar(b, 4L); writeSvar(b, gno) // sequence_number
        writeSvar(b, 5L); writeSvar(b, tsMs * 1000L) // immediate_commit_ts
        writeSvar(b, 6L); writeSvar(b, tsMs * 1000L) // original_commit_ts
        writeSvar(b, 7L); writeSvar(b, 0L) // transaction_length (unused)
        writeSvar(b, 8L); writeSvar(b, 80400L) // immediate_server_version
        writeSvar(b, 9L); writeSvar(b, 80400L) // original_server_version
      }
      if (compressTxns) { innerBuf = new ByteBuf; innerTs = tsMs }
    }

    /** XA_PREPARE_LOG_EVENT (type 38): one_phase u8, then the xid —
      * formatID u32, gtrid_length u32, bqual_length u32, gtrid+bqual
      * bytes. mysqld ends a prepared XA transaction's binlog scope
      * with this binary event (XA END stays a QUERY statement). */
    def xaPrepare(tsMs: Long, gtrid: String, onePhase: Boolean = false): Unit = {
      // under compressTxns the row-level events are sitting in the open
      // transaction buffer — flush them first or the prepare would land
      // BEFORE its own transaction's payload and close the scope early
      flushTxn()
      writeEvent(EventType.XaPrepare, tsMs) { b =>
        val g = gtrid.getBytes(StandardCharsets.UTF_8)
        b.u8(if (onePhase) 1 else 0)
        b.u32(1L) // formatID
        b.u32(g.length.toLong)
        b.u32(0L) // bqual_length
        b.raw(g)
      }
    }

    /** MariaDB GTID (type 162): seq_no u64 + domain_id u32 + flags2 u8.
      * A non-standalone event IS the transaction opener (MariaDB writes
      * no BEGIN QUERY); FL_STANDALONE (1) marks auto-committed
      * statements (DDL). The writing server id rides the common header
      * — set [[currentServerId]] before calling for multi-master
      * storylines. FL_TRANSACTIONAL-style extra flag bits are omitted:
      * readers dispatch on FL_STANDALONE only. */
    def gtidMaria(tsMs: Long, seq: Long, domain: Long,
        standalone: Boolean = false): Unit = {
      flushTxn()
      writeEvent(EventType.MariaGtid, tsMs) { b =>
        b.i64(seq)
        b.u32(domain)
        b.u8(if (standalone) 1 else 0)
      }
      if (compressTxns) { innerBuf = new ByteBuf; innerTs = tsMs }
    }

    /** MariaDB GTID_LIST (type 163): the binlog state at file start —
      * u32 count (low 28 bits; high 4 flag bits zero), then per entry
      * domain u32 + server u32 + seq u64 (the last seq written by that
      * server in that domain). The PREVIOUS_GTIDS analogue file pruning
      * subtracts. Call before any table/row events. */
    def gtidList(state: Seq[(Long, Long, Long)]): Unit =
      writeEvent(EventType.MariaGtidList, 0L) { b =>
        require(state.length <= 0x0fffffff, "gtidList: too many entries")
        b.u32(state.length.toLong)
        state.foreach { case (domain, server, seq) =>
          b.u32(domain); b.u32(server); b.i64(seq)
        }
      }

    /** MariaDB ANNOTATE_ROWS (type 160, binlog_annotate_row_events=ON):
      * the statement text ahead of its TABLE_MAPs — the ROWS_QUERY
      * analogue; body is the bare SQL text. */
    def annotateRows(tsMs: Long, sql: String): Unit =
      writeRowLevelEvent(EventType.MariaAnnotateRows, tsMs) { b =>
        b.raw(sql.getBytes(StandardCharsets.UTF_8))
      }

    /** QUERY event (statement text): mysqld writes `BEGIN` to open a
      * row-format transaction body, DDL statements in their own GTID
      * scope (no XID), and `COMMIT` for non-transactional engines.
      * 13-byte post-header (declared in the FDE), status vars empty.
      * Rides the transaction buffer under compressTxns (mysqld puts
      * BEGIN inside the payload). */
    def query(tsMs: Long, db: String, sql: String): Unit =
      writeRowLevelEvent(EventType.Query, tsMs) { b =>
        val dbB = db.getBytes(StandardCharsets.UTF_8)
        val sqlB = sql.getBytes(StandardCharsets.UTF_8)
        require(dbB.length < 256, "db name too long")
        b.u32(7L) // thread id (fixture constant)
        b.u32(0L) // exec time
        b.u8(dbB.length)
        b.u16(0) // error code
        b.u16(0) // status vars length
        b.raw(dbB); b.u8(0)
        b.raw(sqlB)
      }

    /** XID commit event closing the current transaction. */
    def xid(tsMs: Long, x: Long): Unit =
      writeRowLevelEvent(EventType.Xid, tsMs)(b => b.i64(x))

    /** ROWS_QUERY event (binlog_rows_query_log_events=ON): the original
      * statement, written before the statement's TABLE_MAPs. Body = one
      * length byte capped at 255 (readers ignore it and use the event
      * size) + the UTF-8 statement text. Rides the transaction buffer
      * under compressTxns, as mysqld puts it inside the payload. */
    def rowsQuery(tsMs: Long, sql: String): Unit =
      writeRowLevelEvent(EventType.RowsQuery, tsMs) { b =>
        val sqlB = sql.getBytes(StandardCharsets.UTF_8)
        b.u8(math.min(sqlB.length, 255))
        b.raw(sqlB)
      }

    def writeRows(tsMs: Long, tableId: Long, schema: StructType,
        rows: Seq[Array[Any]]): Unit =
      rowsEvent(if (maria) EventType.WriteRowsV1 else EventType.WriteRowsV2,
        tsMs, tableId, schema, rows.map(Seq(_)))

    def deleteRows(tsMs: Long, tableId: Long, schema: StructType,
        rows: Seq[Array[Any]]): Unit =
      rowsEvent(if (maria) EventType.DeleteRowsV1 else EventType.DeleteRowsV2,
        tsMs, tableId, schema, rows.map(Seq(_)))

    def updateRows(tsMs: Long, tableId: Long, schema: StructType,
        pairs: Seq[(Array[Any], Array[Any])]): Unit =
      rowsEvent(if (maria) EventType.UpdateRowsV1 else EventType.UpdateRowsV2,
        tsMs, tableId, schema, pairs.map(p => Seq(p._1, p._2)))

    private def rowsEvent(tpe: Byte, tsMs: Long, tableId: Long,
        schema: StructType, rowImages: Seq[Seq[Array[Any]]]): Unit =
      writeRowLevelEvent(tpe, tsMs) { b =>
        b.u48(tableId)
        b.u16(0) // flags
        // MariaDB keeps the V1 layout: no extra-data field at all
        if (!maria) b.u16(2) // v2 extra-data length (2 = the field itself)
        val n = schema.length
        b.lenenc(n.toLong)
        val allPresent = Array.fill[Byte]((n + 7) / 8) {
          0xff.toByte
        }
        // trailing bits beyond n must be zero-tolerant for readers; keep
        // them set like mysqld does (readers index only bits < n)
        b.raw(allPresent)
        if (tpe == EventType.UpdateRowsV2 || tpe == EventType.UpdateRowsV1)
          b.raw(allPresent)
        rowImages.foreach(_.foreach(img =>
          writeImage(b, schema, img, _ => true)))
      }

    /** MariaDB `log_bin_compress=ON` compressed record (the
      * sql/log_event.cc layout [[inflateMariaRecord]] reads): header
      * byte 0x80 | lenlen (algorithm bits 4-6 zero = zlib), original
      * length big-endian in lenlen bytes, zlib stream. */
    private def compressedRecord(b: ByteBuf, raw: Array[Byte]): Unit = {
      val d = new java.util.zip.Deflater()
      val out = new java.io.ByteArrayOutputStream(raw.length / 2 + 32)
      try {
        d.setInput(raw); d.finish()
        val chunk = new Array[Byte](4096)
        while (!d.finished()) {
          val n = d.deflate(chunk); out.write(chunk, 0, n)
        }
      } finally d.end()
      val lenlen =
        if (raw.length <= 0xff) 1
        else if (raw.length <= 0xffff) 2
        else if (raw.length <= 0xffffff) 3
        else 4
      b.u8(0x80 | lenlen)
      var i = lenlen - 1
      while (i >= 0) { b.u8((raw.length >>> (8 * i)) & 0xff); i -= 1 }
      b.raw(out.toByteArray)
    }

    /** `log_bin_compress=ON` rows events (MariaDB types 166-168): the
      * V1 post-header stays plain; width + bitmap(s) + row images
      * compress as one record. */
    def writeRowsCompressed(tsMs: Long, tableId: Long, schema: StructType,
        rows: Seq[Array[Any]]): Unit =
      rowsEventCompressed(EventType.MariaWriteRowsCompressed, tsMs, tableId,
        schema, rows.map(Seq(_)))

    def deleteRowsCompressed(tsMs: Long, tableId: Long, schema: StructType,
        rows: Seq[Array[Any]]): Unit =
      rowsEventCompressed(EventType.MariaDeleteRowsCompressed, tsMs, tableId,
        schema, rows.map(Seq(_)))

    def updateRowsCompressed(tsMs: Long, tableId: Long, schema: StructType,
        pairs: Seq[(Array[Any], Array[Any])]): Unit =
      rowsEventCompressed(EventType.MariaUpdateRowsCompressed, tsMs, tableId,
        schema, pairs.map(p => Seq(p._1, p._2)))

    private def rowsEventCompressed(tpe: Byte, tsMs: Long, tableId: Long,
        schema: StructType, rowImages: Seq[Seq[Array[Any]]]): Unit = {
      require(maria, "compressed rows events are MariaDB-only " +
        "(log_bin_compress has no MySQL counterpart)")
      writeRowLevelEvent(tpe, tsMs) { b =>
        b.u48(tableId)
        b.u16(0) // flags
        val body = new ByteBuf
        val n = schema.length
        body.lenenc(n.toLong)
        val allPresent = Array.fill[Byte]((n + 7) / 8)(0xff.toByte)
        body.raw(allPresent)
        if (tpe == EventType.MariaUpdateRowsCompressed) body.raw(allPresent)
        rowImages.foreach(_.foreach(img =>
          writeImage(body, schema, img, _ => true)))
        compressedRecord(b, java.util.Arrays.copyOf(body.arr, body.size))
      }
    }

    /** `log_bin_compress=ON` QUERY (MariaDB type 165): the fixed part,
      * status vars, and db stay plain; the statement compresses. */
    def queryCompressed(tsMs: Long, db: String, sql: String): Unit = {
      require(maria, "compressed QUERY events are MariaDB-only")
      writeRowLevelEvent(EventType.MariaQueryCompressed, tsMs) { b =>
        val dbB = db.getBytes(StandardCharsets.UTF_8)
        require(dbB.length < 256, "db name too long")
        b.u32(7L) // thread id (fixture constant)
        b.u32(0L) // exec time
        b.u8(dbB.length)
        b.u16(0) // error code
        b.u16(0) // status vars length
        b.raw(dbB); b.u8(0)
        compressedRecord(b, sql.getBytes(StandardCharsets.UTF_8))
      }
    }

    /** `binlog_row_image=MINIMAL` rows events: the before image carries
      * only the PK (column 0 by fixture convention), the after image
      * the PK plus the statement's changed columns (one shared bitmap
      * per event, like mysqld's per-statement m_cols/m_cols_ai), delete
      * images only the PK. Insert images stay full — MINIMAL does not
      * thin writes. Emitted as a separate entry point so the FULL-image
      * byte stream (and every cached fixture built from it) is
      * bit-identical to before. */
    def updateRowsMinimal(tsMs: Long, tableId: Long, schema: StructType,
        pairs: Seq[(Array[Any], Array[Any])]): Unit =
      writeRowLevelEvent(EventType.UpdateRowsV2, tsMs) { b =>
        b.u48(tableId)
        b.u16(0)
        b.u16(2)
        val n = schema.length
        b.lenenc(n.toLong)
        val changed = (0 until n).map(i =>
          i == 0 || pairs.exists(p => p._1(i) != p._2(i)))
        b.raw(exactBitmap(n, i => i == 0))
        b.raw(exactBitmap(n, changed))
        pairs.foreach { case (before, after) =>
          writeImage(b, schema, before, i => i == 0)
          writeImage(b, schema, after, changed)
        }
      }

    /** `binlog_row_value_options=PARTIAL_JSON` UPDATE
      * (PARTIAL_UPDATE_ROWS_EVENT, type 39): full-image pairs, except
      * that JSON columns named in `diffs` ship a Json_diff_vector in
      * the after image instead of the full document (value_options=1 +
      * partial_bits ahead of the null bitmap — the layout
      * [[readImage]]'s partialJson path decodes). Diffs are
      * (op, path, json-text value): 0 REPLACE / 1 INSERT / 2 REMOVE
      * (value None). The after array's value for a diffed column is
      * IGNORED on the wire — the diff is the change. */
    def updateRowsPartialJson(tsMs: Long, tableId: Long, schema: StructType,
        pairs: Seq[(Array[Any], Array[Any],
          Map[String, Seq[(Int, String, Option[String])]])]): Unit =
      writeRowLevelEvent(EventType.PartialUpdateRows, tsMs) { b =>
        b.u48(tableId)
        b.u16(0)
        b.u16(2)
        val n = schema.length
        b.lenenc(n.toLong)
        val allPresent = Array.fill[Byte]((n + 7) / 8)(0xff.toByte)
        b.raw(allPresent); b.raw(allPresent)
        val jsonIdx = schema.fields.zipWithIndex
          .filter(f => jsonCols(f._1.name)).map(_._2)
        pairs.foreach { case (before, after, diffs) =>
          diffs.keys.foreach(k => require(jsonCols(k),
            s"updateRowsPartialJson: '$k' is not a jsonCols column"))
          writeImage(b, schema, before, _ => true)
          // after image: value_options, partial_bits, then null bitmap +
          // values with diffed JSON columns carrying the diff vector
          b.lenenc(1L) // value_options: PARTIAL_JSON
          val bits = new Array[Byte]((jsonIdx.length + 7) / 8)
          jsonIdx.zipWithIndex.foreach { case (ci, bi) =>
            if (diffs.contains(schema(ci).name))
              bits(bi / 8) = (bits(bi / 8) | (1 << (bi % 8))).toByte
          }
          b.raw(bits)
          val nulls = new Array[Byte]((n + 7) / 8)
          var i = 0
          while (i < n) {
            if (after(i) == null && !diffs.contains(schema(i).name))
              nulls(i / 8) = (nulls(i / 8) | (1 << (i % 8))).toByte
            i += 1
          }
          b.raw(nulls)
          i = 0
          while (i < n) {
            diffs.get(schema(i).name) match {
              case Some(ds) =>
                val bytes = JsonBinary.encodeDiffs(ds)
                b.u32(bytes.length.toLong) // JSON meta = 4 length bytes
                b.raw(bytes)
              case None =>
                if (after(i) != null) writeValue(b, schema(i), after(i))
            }
            i += 1
          }
        }
      }

    /** MINIMAL-image DELETE: images carry the PK (column 0) only. */
    def deleteRowsMinimal(tsMs: Long, tableId: Long, schema: StructType,
        rows: Seq[Array[Any]]): Unit =
      writeRowLevelEvent(EventType.DeleteRowsV2, tsMs) { b =>
        b.u48(tableId)
        b.u16(0)
        b.u16(2)
        val n = schema.length
        b.lenenc(n.toLong)
        b.raw(exactBitmap(n, i => i == 0))
        rows.foreach(img => writeImage(b, schema, img, i => i == 0))
      }

    /** `binlog_row_image=NOBLOB` rows events: images carry EVERY column
      * except blob/text ones (BinaryType here — the writer's Blob wire
      * type), which appear only in an after image and only when the
      * statement changed them. Bitmaps are shared per statement like
      * mysqld's m_cols/m_cols_ai; insert images stay full (a new row's
      * blob always "changed"). The public contract this mirrors: "logs
      * all columns, except for BLOB and TEXT columns that are not
      * required to identify rows, or that have not changed"
      * (binlog_row_image system-variable docs). */
    def updateRowsNoblob(tsMs: Long, tableId: Long, schema: StructType,
        pairs: Seq[(Array[Any], Array[Any])]): Unit =
      writeRowLevelEvent(EventType.UpdateRowsV2, tsMs) { b =>
        b.u48(tableId)
        b.u16(0)
        b.u16(2)
        val n = schema.length
        b.lenenc(n.toLong)
        val blob = schema.fields.map(_.dataType == BinaryType)
        val afterHas = (0 until n).map(i => !blob(i) ||
          pairs.exists(p => valueChanged(p._1(i), p._2(i))))
        b.raw(exactBitmap(n, i => !blob(i)))
        b.raw(exactBitmap(n, afterHas))
        pairs.foreach { case (before, after) =>
          writeImage(b, schema, before, i => !blob(i))
          writeImage(b, schema, after, afterHas)
        }
      }

    /** NOBLOB DELETE: the before image carries every non-blob column. */
    def deleteRowsNoblob(tsMs: Long, tableId: Long, schema: StructType,
        rows: Seq[Array[Any]]): Unit =
      writeRowLevelEvent(EventType.DeleteRowsV2, tsMs) { b =>
        b.u48(tableId)
        b.u16(0)
        b.u16(2)
        val n = schema.length
        b.lenenc(n.toLong)
        val blob = schema.fields.map(_.dataType == BinaryType)
        b.raw(exactBitmap(n, i => !blob(i)))
        rows.foreach(img => writeImage(b, schema, img, i => !blob(i)))
      }

    /** Value-equality "changed" test for the shared after bitmap —
      * Array[Byte] compares by CONTENT (reference != would mark every
      * cloned blob changed and silently un-thin the image). */
    private def valueChanged(a: Any, b: Any): Boolean = (a, b) match {
      case (x: Array[Byte], y: Array[Byte]) => !java.util.Arrays.equals(x, y)
      case _ => a != b
    }

    private def exactBitmap(n: Int, present: Int => Boolean): Array[Byte] = {
      val a = new Array[Byte]((n + 7) / 8)
      var i = 0
      while (i < n) {
        if (present(i)) a(i / 8) = (a(i / 8) | (1 << (i % 8))).toByte
        i += 1
      }
      a
    }

    private def writeImage(b: ByteBuf, schema: StructType, vals: Array[Any],
        present: Int => Boolean): Unit = {
      val n = schema.length
      require(vals.length == n, s"row arity ${vals.length} != $n")
      var presentCount = 0
      var i = 0
      while (i < n) {
        if (present(i)) presentCount += 1
        i += 1
      }
      // null bits index PRESENT columns only (bit j = j-th present col)
      val nulls = new Array[Byte]((presentCount + 7) / 8)
      var j = 0
      i = 0
      while (i < n) {
        if (present(i)) {
          if (vals(i) == null) nulls(j / 8) = (nulls(j / 8) | (1 << (j % 8))).toByte
          j += 1
        }
        i += 1
      }
      b.raw(nulls)
      i = 0
      while (i < n) {
        if (present(i) && vals(i) != null) writeValue(b, schema(i), vals(i))
        i += 1
      }
    }

    /** Wire type of a schema field: unsigned columns declare the NARROW
      * unsigned type whose widened Spark surface the field carries
      * (Short⇒u8 TINY, Int⇒u16 SHORT, Long⇒u32 INT, DECIMAL(20,0)⇒u64
      * BIGINT) — the inverse of the decoder's SIGNEDNESS widening. */
    private def wireType(f: StructField): Int =
      if (yearCols(f.name)) {
        require(f.dataType == ShortType,
          s"${f.name}: yearCols requires ShortType (the year number)")
        ColType.Year
      } else if (bitCols.contains(f.name)) {
        require(f.dataType == LongType,
          s"${f.name}: bitCols requires LongType (the bitmask)")
        ColType.Bit
      } else if (timeCols(f.name) || timeFsp.contains(f.name)) {
        require(f.dataType == LongType,
          s"${f.name}: timeCols requires LongType (signed microseconds)")
        ColType.Time2
      } else if (int24Cols(f.name)) {
        require(f.dataType == IntegerType,
          s"${f.name}: int24Cols requires IntegerType")
        ColType.Int24
      } else if (legacyTimeCols(f.name)) {
        require(f.dataType == LongType,
          s"${f.name}: legacyTimeCols requires LongType (signed microseconds)")
        ColType.Time
      } else if (legacyDatetimeCols(f.name)) {
        require(f.dataType == TimestampNTZType,
          s"${f.name}: legacyDatetimeCols requires TimestampNTZType")
        ColType.DateTime
      } else if (legacyTimestampCols(f.name)) {
        require(f.dataType == TimestampType,
          s"${f.name}: legacyTimestampCols requires TimestampType")
        ColType.Timestamp
      } else if (enumCols.contains(f.name)) {
        require(f.dataType == StringType,
          s"${f.name}: enumCols requires StringType (the member label)")
        ColType.Enum
      } else if (setCols.contains(f.name)) {
        require(f.dataType == StringType,
          s"${f.name}: setCols requires StringType (comma-joined members)")
        ColType.SetT
      } else if (jsonCols(f.name)) {
        require(f.dataType == StringType,
          s"${f.name}: jsonCols requires StringType (JSON text), got ${f.dataType}")
        ColType.Json
      } else if (charCols.contains(f.name)) {
        require(f.dataType == StringType,
          s"${f.name}: charCols requires StringType, got ${f.dataType}")
        ColType.String254
      } else if (!unsignedCols(f.name)) ColType.fromSpark(f.dataType)
      else f.dataType match {
        case ShortType => ColType.Tiny
        case IntegerType => ColType.Short
        case LongType => ColType.Long
        case dt: DecimalType if dt.precision == 20 && dt.scale == 0 =>
          ColType.LongLong
        case other => throw new IllegalArgumentException(
          s"${f.name}: unsigned columns carry the widened type " +
            s"(short/int/long/decimal(20,0)), got $other")
      }

    private def isNumericWire(t: Int): Boolean = t match {
      case ColType.Tiny | ColType.Short | ColType.Int24 | ColType.Long |
          ColType.LongLong | ColType.Float | ColType.Double |
          ColType.NewDecimal => true
      case _ => false
    }

    /** Fractional-second encode, the inverse of the reader's readFrac:
      * ceil(fsp/2) big-endian bytes in units of 10^(2·bytes−6) seconds
      * (mysqld scales by BYTES, not digits — odd fsp shares its even
      * neighbor's unit). */
    private def writeFrac(b: ByteBuf, fracMicros: Long, fsp: Int): Unit = {
      val bytes = (fsp + 1) / 2
      if (bytes > 0) b.beU(fracMicros / Pow10(6 - 2 * bytes), bytes)
    }

    private def writeValue(b: ByteBuf, f: StructField, v: Any): Unit =
      if (unsignedCols(f.name)) wireType(f) match {
        case ColType.Tiny =>
          val x = v.asInstanceOf[Short]
          require(x >= 0 && x <= 255, s"${f.name}: $x out of u8 range")
          b.u8(x)
        case ColType.Short =>
          val x = v.asInstanceOf[Int]
          require(x >= 0 && x <= 0xffff, s"${f.name}: $x out of u16 range")
          b.u16(x)
        case ColType.Int24 =>
          val x = v.asInstanceOf[Int]
          require(x >= 0 && x <= 0xffffff, s"${f.name}: $x out of u24 range")
          b.u24(x)
        case ColType.Long =>
          val x = v.asInstanceOf[Long]
          require(x >= 0 && x <= 0xffffffffL, s"${f.name}: $x out of u32 range")
          b.i32(x.toInt)
        case ColType.LongLong =>
          val bd = (v match {
            case d: Decimal => d.toJavaBigDecimal
            case d: java.math.BigDecimal => d
            case d: BigDecimal => d.bigDecimal
          }).toBigIntegerExact
          require(bd.signum() >= 0 && bd.bitLength() <= 64,
            s"${f.name}: $bd out of u64 range")
          b.i64(bd.longValue()) // two's-complement low 64 bits
        case other => throw new IllegalArgumentException(
          s"${f.name}: unexpected unsigned wire type $other")
      }
      else if (yearCols(f.name)) {
        val y = v.asInstanceOf[Short].toInt
        require(y == 0 || (y >= 1901 && y <= 2155),
          s"${f.name}: YEAR $y outside 1901-2155 (or 0)")
        b.u8(if (y == 0) 0 else y - 1900)
      }
      else if (bitCols.contains(f.name)) {
        val bits = bitCols(f.name)
        val x = v.asInstanceOf[Long]
        require(bits == 64 || (x >>> bits) == 0,
          s"${f.name}: value 0x${x.toHexString} exceeds BIT($bits)")
        b.beU(x, (bits + 7) / 8)
      }
      else if (timeCols(f.name) || timeFsp.contains(f.name)) {
        val fsp = timeFsp.getOrElse(f.name, 6)
        val micros = v.asInstanceOf[Long]
        require(micros % Pow10(6 - fsp) == 0L,
          s"${f.name}: $micros µs not representable at TIME($fsp)")
        val abs = math.abs(micros)
        val frac = abs % 1000000L
        var sec = abs / 1000000L
        val h = sec / 3600; sec %= 3600
        require(h <= 838, s"${f.name}: |$micros µs| exceeds ±838:59:59")
        val intpart = (h << 12) | ((sec / 60) << 6) | (sec % 60)
        val packed0 = (intpart << 24) | frac
        val packed = if (micros < 0) -packed0 else packed0
        // my_time_packed_to_binary: fsp 0-4 store the FLOOR-shift
        // intpart and the TRUNCATED-mod frac (negative byte/short for
        // negative durations); fsp 5-6 store the whole packed number
        fsp match {
          case 0 => b.beU((packed >> 24) + 0x800000L, 3)
          case 1 | 2 =>
            b.beU((packed >> 24) + 0x800000L, 3)
            b.u8(((packed % (1L << 24)) / 10000L).toInt & 0xff)
          case 3 | 4 =>
            b.beU((packed >> 24) + 0x800000L, 3)
            val fr = ((packed % (1L << 24)) / 100L).toInt
            b.u8((fr >> 8) & 0xff); b.u8(fr & 0xff)
          case _ => b.beU(packed + 0x800000000000L, 6)
        }
      }
      else if (int24Cols(f.name)) {
        val x = v.asInstanceOf[Int]
        require(x >= -0x800000 && x <= 0x7fffff,
          s"${f.name}: $x out of MEDIUMINT range")
        b.u24(x & 0xffffff)
      }
      else if (legacyTimeCols(f.name)) {
        val micros = v.asInstanceOf[Long]
        require(micros % 1000000L == 0L,
          s"${f.name}: legacy TIME holds whole seconds, got $micros µs")
        val abs = math.abs(micros) / 1000000L
        val h = abs / 3600
        require(h <= 838, s"${f.name}: |$micros µs| exceeds ±838:59:59")
        val packed0 = (h * 10000L + (abs / 60 % 60) * 100L + abs % 60).toInt
        val packed = if (micros < 0) -packed0 else packed0
        b.u24(packed & 0xffffff)
      }
      else if (legacyDatetimeCols(f.name)) {
        val ldt = DateTimeUtils.microsToLocalDateTime(v.asInstanceOf[Long])
        require(ldt.getNano == 0,
          s"${f.name}: legacy DATETIME holds whole seconds, got $ldt")
        val num = (ldt.getYear * 10000L + ldt.getMonthValue * 100L +
          ldt.getDayOfMonth) * 1000000L +
          ldt.getHour * 10000L + ldt.getMinute * 100L + ldt.getSecond
        b.i64(num)
      }
      else if (legacyTimestampCols(f.name)) {
        val micros = v.asInstanceOf[Long]
        require(micros % 1000000L == 0L,
          s"${f.name}: legacy TIMESTAMP holds whole seconds, got $micros µs")
        val sec = micros / 1000000L
        require(sec >= 0 && sec <= 0xffffffffL,
          s"${f.name}: $sec s outside the u32 unix-seconds range")
        b.u32(sec)
      }
      else if (enumCols.contains(f.name)) {
        val label = v match {
          case u: UTF8String => u.toString
          case s: String => s
        }
        val labels = enumCols(f.name)
        val idx = if (label.isEmpty) 0 else {
          val found = labels.indexOf(label)
          require(found >= 0, s"${f.name}: '$label' is not an ENUM member")
          found + 1
        }
        if (labels.length < 256) b.u8(idx) else b.u16(idx)
      }
      else if (setCols.contains(f.name)) {
        val text = v match {
          case u: UTF8String => u.toString
          case s: String => s
        }
        val labels = setCols(f.name)
        var bits = 0L
        if (text.nonEmpty) text.split(',').foreach { m =>
          val found = labels.indexOf(m)
          require(found >= 0, s"${f.name}: '$m' is not a SET member")
          bits |= 1L << found
        }
        val bytes = (labels.length + 7) / 8
        var i = 0
        while (i < bytes) { b.u8(((bits >> (8 * i)) & 0xff).toInt); i += 1 }
      }
      else if (jsonCols(f.name)) {
        val text = v match {
          case u: UTF8String => u.toString
          case s: String => s
        }
        val doc = JsonBinary.encode(text)
        b.u32(doc.length.toLong) // meta=4 length bytes
        b.raw(doc)
      }
      else if (charCols.contains(f.name)) {
        val declared = charCols(f.name)
        val bytes = (v match {
          case u: UTF8String => u.getBytes
          case s: String => s.getBytes(StandardCharsets.UTF_8)
        })
        require(bytes.length <= declared,
          s"${f.name}: ${bytes.length} bytes exceeds CHAR($declared)")
        if (declared < 256) b.u8(bytes.length) else b.u16(bytes.length)
        b.raw(bytes)
      }
      else ColType.fromSpark(f.dataType) match {
        case ColType.Tiny => b.u8(v.asInstanceOf[Byte] & 0xff)
        case ColType.Short => b.u16(v.asInstanceOf[Short] & 0xffff)
        case ColType.Long => b.i32(v.asInstanceOf[Int])
        case ColType.LongLong => b.i64(v.asInstanceOf[Long])
        case ColType.Float => b.i32(java.lang.Float.floatToIntBits(v.asInstanceOf[Float]))
        case ColType.Double => b.i64(java.lang.Double.doubleToLongBits(v.asInstanceOf[Double]))
        case ColType.Varchar =>
          val bytes = v match {
            case u: UTF8String => u.getBytes
            case s: String => s.getBytes(StandardCharsets.UTF_8)
          }
          if (varcharMeta(f.name) < 256) {
            require(bytes.length < 256, s"${f.name}: value exceeds VARCHAR meta")
            b.u8(bytes.length)
          } else b.u16(bytes.length)
          b.raw(bytes)
        case ColType.Blob =>
          val bytes = v.asInstanceOf[Array[Byte]]
          b.u16(bytes.length); b.raw(bytes) // meta=2 length bytes
        case ColType.Date =>
          val ld = java.time.LocalDate.ofEpochDay(v.asInstanceOf[Int].toLong)
          b.u24((ld.getYear << 9) | (ld.getMonthValue << 5) | ld.getDayOfMonth)
        case ColType.Timestamp2 =>
          val micros = v.asInstanceOf[Long]
          require(micros >= 0, "TIMESTAMP2 cannot encode pre-1970 instants")
          val fsp = dtFsp.getOrElse(f.name, 6)
          require(micros % Pow10(6 - fsp) == 0L,
            s"${f.name}: $micros µs not representable at TIMESTAMP($fsp)")
          b.beU(micros / 1000000L, 4)
          writeFrac(b, micros % 1000000L, fsp)
        case ColType.Datetime2 =>
          val micros = v.asInstanceOf[Long]
          val fsp = dtFsp.getOrElse(f.name, 6)
          require(micros % Pow10(6 - fsp) == 0L,
            s"${f.name}: $micros µs not representable at DATETIME($fsp)")
          val ldt = DateTimeUtils.microsToLocalDateTime(micros)
          val ymd = ((ldt.getYear * 13 + ldt.getMonthValue) << 5) | ldt.getDayOfMonth
          val hms = (ldt.getHour << 12) | (ldt.getMinute << 6) | ldt.getSecond
          b.beU((ymd.toLong << 17 | hms.toLong) + 0x8000000000L, 5)
          writeFrac(b, ldt.getNano / 1000L, fsp)
        case ColType.NewDecimal =>
          val dt = f.dataType.asInstanceOf[DecimalType]
          val bd = (v match {
            case d: Decimal => d.toJavaBigDecimal
            case d: java.math.BigDecimal => d
            case d: BigDecimal => d.bigDecimal
          }).setScale(dt.scale) // throws on precision loss: fail loud
          require(bd.precision - bd.scale <= dt.precision - dt.scale,
            s"${f.name}: $bd exceeds DECIMAL(${dt.precision},${dt.scale})")
          b.raw(encodeDecimal(bd, dt.precision, dt.scale))
        case other => throw new IllegalArgumentException(
          s"MysqlBinlog.Writer: unsupported type ${f.dataType} (code $other)")
      }

    def rotate(tsMs: Long, nextFile: String): Unit = {
      flushTxn()
      writeEvent(EventType.Rotate, tsMs) { b =>
        b.i64(4L) // position in the next file
        b.raw(nextFile.getBytes(StandardCharsets.UTF_8))
      }
    }

    def close(): Unit = { flushTxn(); out.close() }
  }

  /** Growable little-endian byte builder for event bodies. */
  private final class ByteBuf {
    var arr: Array[Byte] = new Array[Byte](64)
    var size: Int = 0
    private def ensure(n: Int): Unit =
      if (size + n > arr.length)
        arr = java.util.Arrays.copyOf(arr, math.max(arr.length * 2, size + n))
    def u8(v: Int): Unit = { ensure(1); arr(size) = v.toByte; size += 1 }
    def u16(v: Int): Unit = { ensure(2); arr(size) = v.toByte; arr(size + 1) = (v >> 8).toByte; size += 2 }
    def u24(v: Int): Unit = { ensure(3); arr(size) = v.toByte; arr(size + 1) = (v >> 8).toByte; arr(size + 2) = (v >> 16).toByte; size += 3 }
    def u32(v: Long): Unit = { ensure(4); var i = 0; while (i < 4) { arr(size + i) = (v >> (8 * i)).toByte; i += 1 }; size += 4 }
    def u48(v: Long): Unit = { ensure(6); var i = 0; while (i < 6) { arr(size + i) = (v >> (8 * i)).toByte; i += 1 }; size += 6 }
    def i32(v: Int): Unit = u32(v.toLong & 0xffffffffL)
    def i64(v: Long): Unit = { ensure(8); var i = 0; while (i < 8) { arr(size + i) = (v >> (8 * i)).toByte; i += 1 }; size += 8 }
    /** Big-endian n-byte unsigned write (the *2 temporal types). */
    def beU(v: Long, n: Int): Unit = { ensure(n); var i = 0; while (i < n) { arr(size + i) = (v >> (8 * (n - 1 - i))).toByte; i += 1 }; size += n }
    def lenenc(v: Long): Unit =
      if (v < 0xfb) u8(v.toInt)
      else if (v < 0x10000) { u8(0xfc); u16(v.toInt) }
      else if (v < 0x1000000) { u8(0xfd); u24(v.toInt) }
      else { u8(0xfe); i64(v) }
    def raw(b: Array[Byte]): Unit = { ensure(b.length); System.arraycopy(b, 0, arr, size, b.length); size += b.length }
    def raw(b: Array[Byte], n: Int): Unit = { ensure(n); System.arraycopy(b, 0, arr, size, n); size += n }
  }
}

/** The MySQL binlog v4 format behind the [[BinlogFormatAdapter]] seam —
  * select with `.option("binlogFormat", "mysql")` on the `binlogcdc`
  * source. Its `mysql-bin.index` is read by [[CdcCodec.readIndex]],
  * like every format's index (the one-path-per-line format is
  * identical, reference binlog_table_reader.cc:12-19). */
object MysqlBinlogAdapter extends BinlogFormatAdapter {
  override def headerLen: Long = MysqlBinlog.MagicLen.toLong
  override def open(path: String): RawEventSource =
    new MysqlBinlog.EventReader(path)
  override def decoder(targetDb: String, targetTable: String,
      needed: Int => Boolean, expectedSchema: Option[StructType],
      driftEpochs: Boolean): CdcRowDecoder = {
    new MysqlBinlog.RowDecoder(targetDb, targetTable, needed, expectedSchema,
      driftEpochs)
  }
  override def isRowEvent(tpe: Byte): Boolean =
    tpe == MysqlBinlog.EventType.WriteRowsV2 ||
      tpe == MysqlBinlog.EventType.UpdateRowsV2 ||
      tpe == MysqlBinlog.EventType.DeleteRowsV2 ||
      // PARTIAL_JSON updates are row events too — classifying type 39
      // as control would replay it before a range's start, re-emitting
      // pairs an earlier range (micro-batch) already delivered
      tpe == MysqlBinlog.EventType.PartialUpdateRows ||
      // a compressed transaction carries row events (the partition
      // reader must treat its decode output as rows, and byte-range
      // slicing must not split it — one payload = one atomic txn)
      tpe == MysqlBinlog.EventType.TransactionPayload
  override def lastCompleteOffset(path: String): Long =
    MysqlBinlog.lastCompleteOffset(path)
  override def inferSourceSchema(indexFile: String, db: String,
      table: String): Option[StructType] =
    MysqlBinlog.inferSourceSchema(indexFile, db, table)
  override def listTables(indexFile: String): Seq[(String, String)] =
    MysqlBinlog.listTables(indexFile)
  /** Gtid bounds from consecutive PREVIOUS_GTIDS sets (the format's own
    * metadata — see [[MysqlBinlog.fileGtidBounds]]); event-time bounds
    * are unknown (sentinels that never prune on __tm), and no per-table
    * row counts exist, so aggregate/OFFSET pushdown stays declined. */
  override def filesMeta(files: Seq[String]): Seq[Option[CdcCodec.FileMeta]] =
    MysqlBinlog.fileGtidBounds(files).map(_.map { case (lo, hi) =>
      CdcCodec.FileMeta(lo, hi, CdcCodec.TsUnknownLoMs, CdcCodec.TsUnknownHiMs)
    })
}

/** MariaDB behind the same adapter seam. The fork shares the v4 event
  * framing, TABLE_MAP layout, and per-type value decode with MySQL —
  * the same [[MysqlBinlog]] machinery runs under `maria = true` — but
  * replaces the identity layer: GTID_EVENT (type 162) carries the
  * domain-server-seq triple AND doubles as the transaction opener,
  * GTID_LIST (type 163) is the file-start state PREVIOUS_GTIDS
  * analogue (pruning bounds subtract per DOMAIN), rows events stay the
  * V1 layout, and ANNOTATE_ROWS replaces ROWS_QUERY. MySQL-only event
  * types (33-42) never appear; a MySQL log opened under this adapter
  * fails loud at the FDE version string, and vice versa. */
object MariaDbAdapter extends BinlogFormatAdapter {
  override def headerLen: Long = MysqlBinlog.MagicLen.toLong
  override def open(path: String): RawEventSource =
    new MysqlBinlog.EventReader(path, maria = true)
  override def decoder(targetDb: String, targetTable: String,
      needed: Int => Boolean, expectedSchema: Option[StructType],
      driftEpochs: Boolean): CdcRowDecoder =
    new MysqlBinlog.RowDecoder(targetDb, targetTable, needed, expectedSchema,
      driftEpochs, maria = true)
  override def isRowEvent(tpe: Byte): Boolean =
    tpe == MysqlBinlog.EventType.WriteRowsV1 ||
      tpe == MysqlBinlog.EventType.UpdateRowsV1 ||
      tpe == MysqlBinlog.EventType.DeleteRowsV1 ||
      // log_bin_compress=ON variants carry row images too — leaving
      // them "control" would decode (and EMIT) out-of-range rows that
      // a range-pruned scan must skip
      tpe == MysqlBinlog.EventType.MariaWriteRowsCompressed ||
      tpe == MysqlBinlog.EventType.MariaUpdateRowsCompressed ||
      tpe == MysqlBinlog.EventType.MariaDeleteRowsCompressed
  override def lastCompleteOffset(path: String): Long =
    MysqlBinlog.lastCompleteOffset(path, maria = true)
  override def inferSourceSchema(indexFile: String, db: String,
      table: String): Option[StructType] =
    MysqlBinlog.inferSourceSchema(indexFile, db, table, maria = true)
  override def listTables(indexFile: String): Seq[(String, String)] =
    MysqlBinlog.listTables(indexFile, maria = true)
  /** Gtid bounds from consecutive GTID_LIST states — the fork's own
    * file-start metadata; event-time bounds unknown, like MySQL. */
  override def filesMeta(files: Seq[String]): Seq[Option[CdcCodec.FileMeta]] =
    MysqlBinlog.mariaFileGtidBounds(files).map(_.map { case (lo, hi) =>
      CdcCodec.FileMeta(lo, hi, CdcCodec.TsUnknownLoMs, CdcCodec.TsUnknownHiMs)
    })
}
