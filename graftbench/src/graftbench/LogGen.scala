package graftbench

import java.io._
import java.nio.file.{Files, Paths, StandardCopyOption}

import graft.cdc.MysqlBinlog
import org.apache.spark.sql.types._

/** Seeded MySQL v4 binlog generator shared by `cdc_history` and
  * `cdc_tail`. The log is what mysqld writes with `binlog_checksum=CRC32`,
  * `binlog_row_image=FULL` and `binlog_row_metadata=FULL`: each file opens
  * with FORMAT_DESCRIPTION and PREVIOUS_GTIDS, each transaction is
  * GTID, QUERY(BEGIN), TABLE_MAP, one rows event, XID, and each closed file
  * ends with ROTATE. Three tables interleave; `shop.orders` (the queried
  * one) carries a fixed share of the transactions with an
  * insert/update/delete mix over its live keys.
  *
  * Everything is a pure function of (seed, layout). Row values of an order
  * are derived from (id, version), so the truth the benchmark checks
  * against needs only per-id versions, not stored rows. */
object LogGen {
  val Db = "shop"
  val Orders = "orders"
  val Sid = "3e11fa47-71ca-11e1-9e33-c80aa9429562"
  val BaseMs = 1700000000000L

  val ordersSchema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("qty", IntegerType),
    StructField("amount", DecimalType(12, 2)),
    StructField("ts", TimestampNTZType),
    StructField("note", StringType)))
  private val customersSchema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("name", StringType),
    StructField("balance", DoubleType),
    StructField("updated", TimestampNTZType)))
  private val auditSchema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("kind", IntegerType),
    StructField("payload", StringType)))
  private val OrdersTid = 101L
  private val CustomersTid = 102L
  private val AuditTid = 103L

  /** Shape of one log: `txnsPerFile` transactions in each of `nFiles`
    * files; `ordersPct` of transactions touch orders, with
    * `insertPct`/`updatePct` of those inserting/updating (the rest
    * delete). Rows per transaction are uniform in 1..maxRows. */
  final case class Layout(nFiles: Int, txnsPerFile: Int, maxRows: Int = 10,
      ordersPct: Int = 50, insertPct: Int = 55, updatePct: Int = 35)

  def mix(a: Long, b: Long): Long = {
    var z = a * 0x9E3779B97F4A7C15L + b * 0xC2B2AE3D27D4EB4FL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def qty(id: Long, ver: Int): Int = java.lang.Math.floorMod(mix(id, ver), 1000L).toInt
  def cents(id: Long, ver: Int): Long = java.lang.Math.floorMod(mix(ver.toLong, id), 10000000L)
  private val notes = Array("standard", "express delivery", "gift wrap please",
    "leave at the front desk", "fragile", "call before delivery", "n/a",
    "second attempt, customer was out")
  def orderRow(id: Long, ver: Int): Array[Any] = Array[Any](id, qty(id, ver),
    java.math.BigDecimal.valueOf(cents(id, ver), 2),
    BaseMs * 1000L + id * 1000L + ver,
    notes((mix(id, ver + 7L) & 7).toInt) + " #" + id)

  /** What the generator wrote for `orders`, per transaction gtid
    * (1-based; index 0 unused): rows emitted by a scan (an update counts
    * its before and after image) and the sum of their ids. `ver(id)` is
    * the final version of each id, -1 once deleted; `fileFirstGtid(i)`
    * is the first gtid of file i. */
  final class Truth(val rowsAt: Array[Int], val idSumAt: Array[Long],
      val ver: Array[Int], val nIds: Int,
      val fileFirstGtid: Array[Long]) {
    def nTxns: Int = rowsAt.length - 1
    lazy val rowPrefix: Array[Long] = prefix(rowsAt.map(_.toLong))
    lazy val idPrefix: Array[Long] = prefix(idSumAt)
    private def prefix(a: Array[Long]): Array[Long] = {
      val p = new Array[Long](a.length + 1)
      var i = 0
      while (i < a.length) { p(i + 1) = p(i) + a(i); i += 1 }
      p
    }
    /** (rows, id sum) of orders rows with lo <= __gtid <= hi. */
    def window(lo: Long, hi: Long): (Long, Long) = {
      val a = math.max(1L, lo).toInt
      val b = math.min(hi, nTxns.toLong).toInt
      if (b < a) (0L, 0L)
      else (rowPrefix(b + 1) - rowPrefix(a), idPrefix(b + 1) - idPrefix(a))
    }
    def totalRows: Long = rowPrefix.last
    def totalIdSum: Long = idPrefix.last
    /** Latest image checksum: (live rows, Σ id, Σ qty, Σ amount cents). */
    lazy val image: (Long, Long, Long, Long) = {
      var n = 0L; var s = 0L; var q = 0L; var c = 0L
      var id = 0
      while (id < nIds) {
        val v = ver(id)
        if (v >= 0) { n += 1; s += id; q += qty(id, v); c += cents(id, v) }
        id += 1
      }
      (n, s, q, c)
    }

    def save(f: File): Unit = {
      val o = new DataOutputStream(new BufferedOutputStream(new FileOutputStream(f), 1 << 20))
      try {
        o.writeInt(rowsAt.length); rowsAt.foreach(o.writeInt); idSumAt.foreach(o.writeLong)
        o.writeInt(nIds); var i = 0; while (i < nIds) { o.writeInt(ver(i)); i += 1 }
        o.writeInt(fileFirstGtid.length); fileFirstGtid.foreach(o.writeLong)
      } finally o.close()
    }
  }
  object Truth {
    def load(f: File): Truth = {
      val in = new DataInputStream(new BufferedInputStream(new FileInputStream(f), 1 << 20))
      try {
        val n = in.readInt()
        val rows = Array.fill(n)(in.readInt()); val ids = Array.fill(n)(in.readLong())
        val nIds = in.readInt(); val ver = Array.fill(nIds)(in.readInt())
        val ff = Array.fill(in.readInt())(in.readLong())
        new Truth(rows, ids, ver, nIds, ff)
      } finally in.close()
    }
  }

  def fileName(i: Int): String = f"mysql-bin.${i + 1}%06d"

  /** Write the whole log under `dir` (files + `binlog.index`) and return
    * its truth. Deterministic in (seed, layout). */
  def write(dir: File, seed: Long, layout: Layout): Truth = {
    dir.mkdirs()
    val nTxns = layout.nFiles * layout.txnsPerFile
    val rnd = new java.util.SplittableRandom(seed * 31 + 7)
    val rowsAt = new Array[Int](nTxns + 1)
    val idSumAt = new Array[Long](nTxns + 1)
    // live order ids: dense array + position map (swap-remove), so a
    // random live key is O(1) to pick and to delete
    var ver = new Array[Int](1024)
    var livePos = new Array[Int](1024)
    var live = new Array[Int](1024)
    var nLive = 0
    var nextId = 0
    var custIds = 0L
    var auditIds = 0L
    val fileFirst = new Array[Long](layout.nFiles)
    def grow(): Unit = if (nextId >= ver.length) {
      val n = ver.length * 2
      ver = java.util.Arrays.copyOf(ver, n); livePos = java.util.Arrays.copyOf(livePos, n)
      live = java.util.Arrays.copyOf(live, n)
    }
    var gtid = 0L
    var fi = 0
    while (fi < layout.nFiles) {
      fileFirst(fi) = gtid + 1
      val w = new MysqlBinlog.Writer(new File(dir, fileName(fi)).getPath, checksum = true,
        varcharMeta = {
          case "note" => 256; case "name" => 192; case _ => 1020
        })
      try {
        w.previousGtids(if (gtid == 0) Map.empty else Map(Sid -> Seq((1L, gtid + 1))))
        var t = 0
        while (t < layout.txnsPerFile) {
          gtid += 1
          val ts = BaseMs + gtid
          val n = 1 + rnd.nextInt(layout.maxRows)
          w.gtid(ts, gtid, Sid)
          w.query(ts, Db, "BEGIN")
          val pick = rnd.nextInt(100)
          if (pick < layout.ordersPct) {
            w.tableMap(ts, OrdersTid, Db, Orders, ordersSchema)
            val op = rnd.nextInt(100)
            if (op < layout.insertPct || nLive < 4 * layout.maxRows) {
              val rows = new Array[Array[Any]](n)
              var i = 0
              while (i < n) {
                grow()
                val id = nextId; nextId += 1
                ver(id) = 0; live(nLive) = id; livePos(id) = nLive; nLive += 1
                rows(i) = orderRow(id, 0); idSumAt(gtid.toInt) += id
                i += 1
              }
              rowsAt(gtid.toInt) = n
              w.writeRows(ts, OrdersTid, ordersSchema, rows.toSeq)
            } else {
              // distinct live keys, in pick order
              val picked = new Array[Int](n)
              var i = 0
              while (i < n) {
                val p = rnd.nextInt(nLive - i)
                val id = live(p)
                // move the pick to the tail window so it is not drawn twice
                val tail = nLive - 1 - i
                val other = live(tail)
                live(tail) = id; livePos(id) = tail; live(p) = other; livePos(other) = p
                picked(i) = id
                idSumAt(gtid.toInt) += id
                i += 1
              }
              if (op < layout.insertPct + layout.updatePct) {
                val pairs = picked.toSeq.map { id =>
                  val before = orderRow(id, ver(id)); ver(id) += 1
                  (before, orderRow(id, ver(id)))
                }
                idSumAt(gtid.toInt) *= 2
                rowsAt(gtid.toInt) = 2 * n
                w.updateRows(ts, OrdersTid, ordersSchema, pairs)
              } else {
                val rows = picked.toSeq.map(id => orderRow(id, ver(id)))
                picked.foreach { id =>
                  ver(id) = -1
                  // the picks sit in the tail window: drop them from live
                  val p = livePos(id)
                  val last = live(nLive - 1)
                  live(p) = last; livePos(last) = p; nLive -= 1
                }
                rowsAt(gtid.toInt) = n
                w.deleteRows(ts, OrdersTid, ordersSchema, rows)
              }
            }
          } else if (pick < layout.ordersPct + (100 - layout.ordersPct) / 2) {
            w.tableMap(ts, CustomersTid, Db, "customers", customersSchema)
            val rows = (0 until n).map { _ =>
              custIds += 1
              Array[Any](custIds, "customer " + (custIds * 2654435761L % 100000L),
                rnd.nextInt(1000000) / 100.0, (BaseMs + gtid) * 1000L)
            }
            w.writeRows(ts, CustomersTid, customersSchema, rows)
          } else {
            w.tableMap(ts, AuditTid, Db, "audit", auditSchema)
            val rows = (0 until n).map { _ =>
              auditIds += 1
              Array[Any](auditIds, rnd.nextInt(16),
                "{\"actor\":" + rnd.nextInt(5000) + ",\"action\":\"touch\",\"ref\":" + auditIds + "}")
            }
            w.writeRows(ts, AuditTid, auditSchema, rows)
          }
          w.xid(ts, gtid)
          t += 1
        }
        if (fi + 1 < layout.nFiles) w.rotate(BaseMs + gtid, fileName(fi + 1))
      } finally w.close()
      fi += 1
    }
    writeIndex(dir, layout.nFiles)
    new Truth(rowsAt, idSumAt, java.util.Arrays.copyOf(ver, nextId), nextId,
      fileFirst)
  }

  def writeIndex(dir: File, nFiles: Int): Unit = {
    val tmp = new File(dir, "binlog.index.tmp")
    Files.writeString(tmp.toPath, (0 until nFiles).map(i => "./" + fileName(i) + "\n").mkString)
    Files.move(tmp.toPath, Paths.get(dir.getPath, "binlog.index"),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** Transaction byte ranges of one written file: (gtid, start, end),
    * where a transaction runs from its GTID event to the next one (the
    * last also takes the ROTATE event), plus the header length (FDE and
    * PREVIOUS_GTIDS) the file opens with. */
  def txnRanges(path: String): (Long, Array[(Long, Long, Long)]) = {
    val r = new MysqlBinlog.EventReader(path)
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    var head = -1L
    var cur: (Long, Long) = null
    var end = 0L
    try {
      while (r.hasNext) {
        val e = r.next()
        if (e.tpe == MysqlBinlog.EventType.Gtid) {
          if (cur == null) head = e.pos else out += ((cur._1, cur._2, e.pos))
          val gno = java.nio.ByteBuffer.wrap(e.payload, 17, 8)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN).getLong
          cur = (gno, e.pos)
        }
        end = e.endPos
      }
    } finally r.close()
    if (cur != null) out += ((cur._1, cur._2, end))
    (head, out.toArray)
  }
}
