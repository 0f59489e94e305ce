package graft.cdc

import org.apache.spark.sql.types.StructType

/** The binlog-format adapter seam. The engine's scan, pushdown,
  * partition-planning, streaming-offset, and schema-synthesis layers
  * consume ONLY this interface's vocabulary, so a wire format is a
  * pluggable decoder, not an engine fork. Three implementations exist:
  * [[GcdcAdapter]] (the self-contained test format),
  * [[MysqlBinlogAdapter]] (the REAL MySQL binlog v4 byte layout,
  * decoded pure-JVM in MysqlBinlog.scala — no client library) and
  * [[MariaDbAdapter]] (the MariaDB fork of that layout). The shared
  * vocabulary:
  *
  *   - [[CdcCodec.RawEvent]]: (type, timestamp, payload bytes, byte
  *     offsets). MySQL's 19-byte v4 event header carries exactly these
  *     fields (type_code, timestamp, event_length/next_position —
  *     reference binlog_table_reader.cc:151-154); `pos`/`endPos` are
  *     the resume/admission offsets, identical in every format.
  *   - [[RawEventSource]]: sequential event iteration over one log
  *     file after a header check (GCDC: magic+version; MySQL: the
  *     4-byte 0xfe 'b''i''n' magic + the FORMAT_DESCRIPTION event).
  *   - [[CdcRowDecoder]]: stateful event→rows decode carrying the
  *     TABLE_MAP registry and transaction GTID across events
  *     (reference :393-416); a MySQL decoder implements the per-type
  *     value decode via the TABLE_MAP column-type/metadata arrays
  *     (`Field::unpack`, reference :151-154) where GCDC reads its
  *     self-describing layout. The column-pruning mask (`needed`) and
  *     drift-epoch semantics are format-independent contracts.
  *   - index enumeration is not part of the seam: `mysql-bin.index`
  *     and GCDC's `binlog.index` share the one-path-per-line format
  *     (reference :12-19), which [[CdcCodec.readIndex]] parses for
  *     every format.
  *
  * Each format plugs in as ONE [[BinlogFormatAdapter]] implementation:
  * no partition planner, pushdown rule, or streaming-offset change.
  * The `binlogFormat` source option selects the adapter by name (see
  * [[BinlogFormats]]).
  *
  * '''Live replication ingestion.''' The scan is FILE-based, like the
  * reference: it reads binlog files someone ships (from any
  * Hadoop-addressable root — see [[LogFs]]). Live ingestion connects
  * to mysqld as a replica instead (`COM_REGISTER_SLAVE` +
  * `COM_BINLOG_DUMP_GTID`, the Debezium deployment shape), and it
  * needs no further adapter: [[MysqlReplica]] speaks the client/server
  * wire and returns the dump as a [[RawEventSource]] through the same
  * [[MysqlBinlog.EventReader]] the file path uses (byte parity pinned
  * against the loopback [[FakeMysqld]]). `graft.sources.ReplicaTail`
  * lands those event bytes as binlog files plus a `mysql-bin.index`,
  * then reads the landed files through [[MysqlBinlogAdapter]] with the
  * distributed fan-out decode. See DESIGN.md "The replication-protocol
  * seam".
  */
trait RawEventSource extends Iterator[CdcCodec.RawEvent] with AutoCloseable

/** Stateful event→row decode for one (db, table) target; see
  * [[CdcCodec.RowDecoder]] for the reference semantics (TABLE_MAP
  * registry, GTID tracking, pruning mask, drift epochs). */
trait CdcRowDecoder {
  /** Decode one event, writing each of its target rows into `sink` in
    * log order (an update's before image, then its after image). */
  def decode(ev: CdcCodec.RawEvent, sink: RowSink): Unit

  // widened by RowSink.begin to the widest row it has seen
  private lazy val cdcRowSink = RowSink.forCdcRows(0)

  /** The same rows as [[CdcCodec.CdcRow]] values: a thin adapter over
    * the sink for callers that keep rows (fan-out, tools, tests). */
  final def decode(ev: CdcCodec.RawEvent): Seq[CdcCodec.CdcRow] = {
    cdcRowSink.clear()
    decode(ev, cdcRowSink)
    cdcRowSink.cdcRows
  }
}

/** One pluggable binlog format: per-file event iteration + stateful
  * row decode + per-file metadata, plus the format-dependent offsets
  * the scan/streaming layers need (file header length, row-event type
  * test, torn-tail boundary, schema inference). */
trait BinlogFormatAdapter {
  /** Byte offset of the first event (GCDC: 8-byte magic+version;
    * MySQL: the 4-byte 0xfe 'b' 'i' 'n' magic). */
  def headerLen: Long
  def open(path: String): RawEventSource
  def decoder(targetDb: String, targetTable: String,
      needed: Int => Boolean = _ => true,
      expectedSchema: Option[StructType] = None,
      driftEpochs: Boolean = false): CdcRowDecoder
  /** Does this event type carry row images (vs control state)? The
    * byte-range rule (`CdcPartitionReader.rangeEvents`) uses this to skip
    * row events before a range's start without decoding them, while
    * still replaying control events for state. */
  def isRowEvent(tpe: Byte): Boolean
  /** Offset of the last COMPLETE event — the streaming admission
    * boundary (a producer's in-flight append may leave a torn tail). */
  def lastCompleteOffset(path: String): Long
  /** Newest matching TABLE_MAP schema for DSv2 schema inference. */
  def inferSourceSchema(indexFile: String, db: String, table: String): Option[StructType]
  /** Per-file pruning metadata for the WHOLE file list (one call — the
    * planner must not pay per-file I/O twice), aligned with `files`.
    * None = unprunable (conservative keep). GCDC serves this from its
    * log-close sidecars; MySQL derives gtid bounds from consecutive
    * files' PREVIOUS_GTIDS events — the format's OWN metadata, so
    * gtid-range scans prune files on a real binlog with nothing extra
    * written. A batch scan calls it once (`graft.sources.CdcLogSnapshot`)
    * and answers aggregate and OFFSET pushdown from its per-table stats
    * only, so formats whose metadata has none decline both. */
  def filesMeta(files: Seq[String]): Seq[Option[CdcCodec.FileMeta]]
  /** (db, table) pairs for catalog listing. Both formats re-emit
    * TABLE_MAP per transaction, so the NEWEST file names every table
    * still receiving changes — listing deliberately reads ONE file,
    * bounded I/O at any log size (a 100 TB log lists as fast as a 100
    * MB one). GCDC upgrades to the COMPLETE set when every file has a
    * v2 sidecar (per-table stats maps — tiny reads, no log decode).
    * `loadTable` stays exact either way: schema inference walks
    * newest-first until the table's TABLE_MAP is found. */
  def listTables(indexFile: String): Seq[(String, String)]
}

/** Registry resolving the `binlogFormat` source option — a NAME ships
  * to executors (plain string serialization) and resolves locally, so
  * adapter objects never need to be serializable themselves. */
object BinlogFormats {
  def forName(name: String): BinlogFormatAdapter = name match {
    case "gcdc" => GcdcAdapter
    case "mysql" => MysqlBinlogAdapter
    case "mariadb" => MariaDbAdapter
    case other => throw new IllegalArgumentException(
      s"binlogcdc: unknown binlogFormat '$other' (supported: gcdc, mysql, mariadb)")
  }
}

/** Format-agnostic fixture producer interface: the CDC fixtures write
  * one event storyline through either format's writer, so the same
  * DuckDB oracle checks both decoders (see CdcFixture). Timestamps are
  * epoch millis; value conventions are the engine-internal ones
  * (micros-Long timestamps, epoch-day Int dates, String/UTF8String). */
trait FixtureSink extends AutoCloseable {
  /** Declare the set of transactions executed BEFORE this log file
    * (sid → disjoint sorted [start, end) gno intervals) — MySQL's
    * PREVIOUS_GTIDS event, written by mysqld at every binlog's start.
    * Formats without the concept ignore it (GCDC's sidecars carry
    * richer bounds already). Call before any other event. */
  def previousGtids(executed: Map[String, Seq[(Long, Long)]]): Unit = ()
  def tableMap(tsMs: Long, tableId: Long, db: String, table: String,
      schema: StructType): Unit
  def gtid(tsMs: Long, gno: Long, sourceId: String): Unit
  def writeRows(tsMs: Long, tableId: Long, schema: StructType,
      rows: Seq[Array[Any]]): Unit
  def deleteRows(tsMs: Long, tableId: Long, schema: StructType,
      rows: Seq[Array[Any]]): Unit
  def updateRows(tsMs: Long, tableId: Long, schema: StructType,
      pairs: Seq[(Array[Any], Array[Any])]): Unit
}

/** The built-in GCDC format behind the adapter interface. */
object GcdcAdapter extends BinlogFormatAdapter {
  override def headerLen: Long = CdcCodec.HeaderLen.toLong
  override def open(path: String): RawEventSource =
    new CdcCodec.EventReader(path)
  override def decoder(targetDb: String, targetTable: String,
      needed: Int => Boolean, expectedSchema: Option[StructType],
      driftEpochs: Boolean): CdcRowDecoder =
    new CdcCodec.RowDecoder(targetDb, targetTable, needed,
      expectedSchema, driftEpochs)
  override def isRowEvent(tpe: Byte): Boolean =
    tpe == CdcCodec.EventType.WriteRows ||
      tpe == CdcCodec.EventType.UpdateRows ||
      tpe == CdcCodec.EventType.DeleteRows
  override def lastCompleteOffset(path: String): Long =
    CdcCodec.lastCompleteOffset(path)
  override def inferSourceSchema(indexFile: String, db: String,
      table: String): Option[StructType] =
    CdcCodec.inferSourceSchema(indexFile, db, table)
  override def filesMeta(files: Seq[String]): Seq[Option[CdcCodec.FileMeta]] =
    files.map(CdcCodec.readMeta)
  override def listTables(indexFile: String): Seq[(String, String)] =
    CdcCodec.listTables(indexFile)
}
