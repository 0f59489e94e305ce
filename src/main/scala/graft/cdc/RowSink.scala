package graft.cdc

import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter
import org.apache.spark.sql.types.Decimal
import org.apache.spark.unsafe.types.UTF8String

/** A row predicate over the envelope (op, gtid, tmMicros, sourceId). A
  * trait, not a Function4, so a call boxes nothing. */
trait EnvelopePred {
  def apply(op: Int, gtid: Long, tmMicros: Long, sourceId: UTF8String): Boolean
}

object EnvelopePred {
  val All: EnvelopePred = (_, _, _, _) => true
}

/** Where a decoder writes rows: the one row path of both formats. Each
  * admitted row goes straight into an UnsafeRow in a reused arena — the
  * row the scan returns to Spark. [[CdcRowDecoder.decode(ev)]] reads the
  * same rows back as [[CdcCodec.CdcRow]]s ([[cdcRows]]).
  *
  * A row is `begin`, setters, `end`. `begin` carries the envelope, the
  * row's source width and the byte offset of its image in the log file
  * (written as `__pos` under the file's ordinal, and only when the scan
  * reads that column); when it returns false the row is dropped and
  * the decoder byte-skips its image, so `admit`, the pushed OFFSET
  * residual (`skipRows`) and the pushed LIMIT (`limit` admitted rows)
  * all decide before any value is decoded. Column indices are source
  * columns in the expected schema's order (drift shaping already
  * applied); decoders set only `needed` columns, and a column not set
  * before `end` reads null. Setters take the Catalyst internal
  * representation: epoch-day ints, micros longs, UTF-8 bytes, and
  * decimals of precision <= 18 as their unscaled long. Byte ranges
  * passed to `setUtf8`/`setBinary` are only valid during the call.
  *
  * The scan and the CdcRow adapter run the same decode code through
  * the same sink class: a second sink class (or a mode flag) showing up
  * after the scan's path was compiled deoptimizes the whole decode loop,
  * which cut the adapter's next 8 MB pass to a quarter of its steady
  * speed. */
final class RowSink private (private var outOrd: Array[Int],
    private var envelope: Array[Int], private var numFields: Int,
    admit: EnvelopePred, skipRows: Long, limit: Long, private var capacity: Int,
    fileBase: Long) {
  import RowSink._

  private val arena = new UnsafeRowWriter(0, 1 << 12)
  private var writer = new UnsafeRowWriter(arena, numFields)
  private var valueOrds: Array[Int] = outOrd.filter(_ >= 0)
  // written(k) == rowSeq: ordinal k was set in the row being written;
  // kind(k) is the setter that did (what cdcRows reads back)
  private var written = new Array[Int](numFields)
  private var kind = new Array[Byte](numFields)
  private var precision = new Array[Int](numFields)
  private var scale = new Array[Int](numFields)
  private var rowSeq = 0
  private var skipped = 0L
  private var admitted = 0L
  // per written row: its arena span and envelope
  private var count = 0
  private var rowStart = new Array[Int](64)
  private var rowSize = new Array[Int](64)
  private var rowFields = new Array[Int](64)
  private var rowWidth = new Array[Int](64)
  private var rowOp = new Array[Int](64)
  private var rowGtid = new Array[Long](64)
  private var rowTm = new Array[Long](64)
  private var rowSource = new Array[UTF8String](64)
  private var rowQuery = new Array[UTF8String](64)

  /** Rows written since the last [[clear]]. */
  def size: Int = count

  /** Drop every written row; the arena is reused. */
  def clear(): Unit = { arena.reset(); count = 0 }

  /** Point `row` at written row `i`: valid until [[clear]]. */
  def pointTo(row: UnsafeRow, i: Int): Unit =
    row.pointTo(arena.getBuffer, rowStart(i).toLong, rowSize(i))

  /** Does the scan read `__pos`? A decoder runs its own checks on a
    * position only when it is read. */
  def wantsPos: Boolean = envelope(Pos) >= 0

  def begin(op: Int, gtid: Long, tmMicros: Long, sourceId: UTF8String,
      query: UTF8String, width: Int, pos: Long): Boolean = {
    if (!admit(op, gtid, tmMicros, sourceId)) return false
    if (skipped < skipRows) { skipped += 1; return false }
    if (admitted >= limit) return false
    admitted += 1
    if (width > capacity) widen(width)
    if (count == rowStart.length) grow()
    rowSeq += 1
    rowStart(count) = arena.cursor()
    rowFields(count) = numFields
    rowWidth(count) = width
    rowOp(count) = op
    rowGtid(count) = gtid
    rowTm(count) = tmMicros
    rowSource(count) = sourceId
    rowQuery(count) = query
    writer.resetRowWriter()
    if (envelope(Op) >= 0) writer.write(envelope(Op), op)
    if (envelope(Gtid) >= 0) writer.write(envelope(Gtid), gtid)
    if (envelope(Tm) >= 0) writer.write(envelope(Tm), tmMicros)
    if (envelope(SourceId) >= 0) writer.write(envelope(SourceId), sourceId)
    if (envelope(Query) >= 0) {
      if (query == null) writer.setNullAt(envelope(Query))
      else writer.write(envelope(Query), query)
    }
    if (envelope(Pos) >= 0) {
      // v4 headers carry 32-bit positions: a MySQL/MariaDB file cannot
      // pass this; a gcdc file can, and must not wrap into the ordinal
      if ((pos >>> 32) != 0) throw new java.io.IOException(
        s"row image at byte offset $pos: __pos packs the offset into 32 " +
          "bits, so a log file read with __pos must stay under 4 GiB")
      writer.write(envelope(Pos), fileBase | pos)
    }
    true
  }

  def end(): Unit = {
    var k = 0
    while (k < valueOrds.length) {
      if (written(valueOrds(k)) != rowSeq) writer.setNullAt(valueOrds(k))
      k += 1
    }
    rowSize(count) = arena.cursor() - rowStart(count)
    count += 1
  }

  /** The output ordinal of source column `col`, marked written by `k`. */
  private def at(col: Int, k: Int): Int = {
    val o = outOrd(col)
    written(o) = rowSeq
    kind(o) = k.toByte
    o
  }

  def setBoolean(col: Int, v: Boolean): Unit = writer.write(at(col, KBoolean), v)
  def setByte(col: Int, v: Byte): Unit = writer.write(at(col, KByte), v)
  def setShort(col: Int, v: Short): Unit = writer.write(at(col, KShort), v)
  def setInt(col: Int, v: Int): Unit = writer.write(at(col, KInt), v)
  def setLong(col: Int, v: Long): Unit = writer.write(at(col, KLong), v)
  def setFloat(col: Int, v: Float): Unit = writer.write(at(col, KFloat), v)
  def setDouble(col: Int, v: Double): Unit = writer.write(at(col, KDouble), v)
  def setUtf8(col: Int, bytes: Array[Byte], off: Int, len: Int): Unit =
    writer.write(at(col, KUtf8), bytes, off, len)
  def setString(col: Int, v: UTF8String): Unit = writer.write(at(col, KUtf8), v)
  def setBinary(col: Int, bytes: Array[Byte], off: Int, len: Int): Unit =
    writer.write(at(col, KBinary), bytes, off, len)
  /** A DECIMAL(p <= 18, s) value as its unscaled long. */
  def setDecimal(col: Int, unscaled: Long, p: Int, s: Int): Unit = {
    val o = at(col, KDecimal)
    precision(o) = p
    scale(o) = s
    writer.write(o, unscaled)
  }
  def setDecimal(col: Int, v: Decimal): Unit = {
    val o = at(col, KDecimal)
    precision(o) = v.precision
    scale(o) = v.scale
    writer.write(o, v, v.precision, v.scale)
  }

  /** The written rows as [[CdcCodec.CdcRow]]s: each value read back by
    * the setter that wrote it, strings and bytes copied out of the
    * arena. */
  def cdcRows: Seq[CdcCodec.CdcRow] = {
    val out = new Array[CdcCodec.CdcRow](count)
    var i = 0
    while (i < count) {
      val row = new UnsafeRow(rowFields(i))
      pointTo(row, i)
      val vals = new Array[Any](rowWidth(i))
      var c = 0
      while (c < vals.length) {
        val o = outOrd(c)
        if (!row.isNullAt(o)) vals(c) = (kind(o).toInt: @annotation.switch) match {
          case KBoolean => row.getBoolean(o)
          case KByte => row.getByte(o)
          case KShort => row.getShort(o)
          case KInt => row.getInt(o)
          case KLong => row.getLong(o)
          case KFloat => row.getFloat(o)
          case KDouble => row.getDouble(o)
          case KUtf8 => row.getUTF8String(o).copy()
          case KBinary => row.getBinary(o)
          case _ => row.getDecimal(o, precision(o), scale(o))
        }
        c += 1
      }
      out(i) = CdcCodec.CdcRow(rowOp(i), rowGtid(i), rowTm(i), rowSource(i),
        vals, rowQuery(i))
      i += 1
    }
    scala.collection.immutable.ArraySeq.unsafeWrapArray(out)
  }

  /** Room for one more row's bookkeeping. */
  private def grow(): Unit = {
    val n = count * 2
    rowStart = java.util.Arrays.copyOf(rowStart, n)
    rowSize = java.util.Arrays.copyOf(rowSize, n)
    rowFields = java.util.Arrays.copyOf(rowFields, n)
    rowWidth = java.util.Arrays.copyOf(rowWidth, n)
    rowOp = java.util.Arrays.copyOf(rowOp, n)
    rowGtid = java.util.Arrays.copyOf(rowGtid, n)
    rowTm = java.util.Arrays.copyOf(rowTm, n)
    rowSource = java.util.Arrays.copyOf(rowSource, n)
    rowQuery = java.util.Arrays.copyOf(rowQuery, n)
  }

  /** cdcRows sink only: source columns 0 until `width` at ordinals 0
    * until `width`. Rows already in the arena keep their own layout. */
  private def widen(width: Int): Unit = {
    capacity = width
    numFields = width
    outOrd = Array.range(0, width)
    valueOrds = outOrd
    writer = new UnsafeRowWriter(arena, numFields)
    written = java.util.Arrays.copyOf(written, width)
    kind = java.util.Arrays.copyOf(kind, width)
    precision = java.util.Arrays.copyOf(precision, width)
    scale = java.util.Arrays.copyOf(scale, width)
  }
}

object RowSink {
  /** Envelope column slots of [[unsafeRows]]' `envelope` array. */
  val Op = 0; val Gtid = 1; val Tm = 2; val SourceId = 3; val Query = 4
  val Pos = 5

  // which setter wrote an ordinal
  private final val KBoolean = 0
  private final val KByte = 1
  private final val KShort = 2
  private final val KInt = 3
  private final val KLong = 4
  private final val KFloat = 5
  private final val KDouble = 6
  private final val KUtf8 = 7
  private final val KBinary = 8
  private final val KDecimal = 9

  /** The scan's sink: UnsafeRows of `numFields` fields, source column
    * `i` at ordinal `outOrd(i)` (-1: not read), envelope column `e` at
    * `envelope(e)` (-1: not read), rows of the file at `fileOrdinal` in
    * the index. */
  def unsafeRows(outOrd: Array[Int], envelope: Array[Int], numFields: Int,
      admit: EnvelopePred, skipRows: Long, limit: Long,
      fileOrdinal: Int): RowSink =
    new RowSink(outOrd, envelope, numFields, admit, skipRows, limit,
      capacity = Int.MaxValue, fileBase = fileOrdinal.toLong << 32)

  /** The CdcRow adapter's sink: every row admitted, source column `i`
    * at ordinal `i`, the layout widened to the widest row seen (`width`
    * to start with). */
  def forCdcRows(width: Int): RowSink =
    new RowSink(Array.range(0, width), Array.fill(6)(-1), width,
      EnvelopePred.All, 0L, Long.MaxValue, capacity = width, fileBase = 0L)
}
