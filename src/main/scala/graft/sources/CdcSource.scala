package graft.sources

import java.util

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.cdc.{BinlogFormatAdapter, BinlogFormats, CdcCodec, CdcSchema, EnvelopePred, RawEventSource, RowSink}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, UnsafeRow}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.connector.catalog.{MetadataColumn, SupportsMetadataColumns, SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference, Transform}
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, CountStar, Max, Min}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.{DataType, LongType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Spark DataSourceV2 CDC source — the Tier-A surface of SURVEY.md §2.A,
  * re-expressed on Spark's connector API.
  *
  * The reference is a MySQL storage engine whose scan path is a
  * single-threaded Volcano pull over binlog files
  * (/root/reference/binlogdb.cc:477-551). Here the same capability is a
  * `TableProvider` (short name `binlogcdc`): one `InputPartition` per log
  * file (parallelism the reference lacks), honest filter pushdown on the
  * envelope columns (anti-lesson of the reference's index trap,
  * binlogdb.cc:396-461), column pruning that reaches the byte decoder, and
  * the same decoder behind a `MicroBatchStream` for Structured Streaming.
  *
  * Options: `indexFile` (the binlog index, reference's CONNECTION string,
  * binlogdb.cc:481), `database`, `table` (instead of the `_cdc`
  * name-mangling convention, binlogdb.cc:489-501).
  *
  * Scale posture: log files are the unit of parallelism (a production
  * deployment rotates files at 64-256 MiB, so a 100 TB log is ~1M
  * partitions — Spark's scheduler handles that; per-file readers stream
  * bytes, state is O(#tables), nothing is buffered beyond one event).
  * Files must be self-contained (TABLE_MAP re-emitted per file,
  * transactions never span files) — both true of real mysqld binlogs.
  */
class CdcTableProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "binlogcdc"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val (idx, db, tbl) = CdcTableProvider.requiredOptions(options)
    val rq = CdcTableProvider.rowsQuery(options) // validate before file I/O
    val adapter = BinlogFormats.forName(CdcTableProvider.formatName(options))
    val src = adapter.inferSourceSchema(idx, db, tbl).getOrElse {
      throw new IllegalArgumentException(
        s"no TABLE_MAP for $db.$tbl found in CDC log $idx")
    }
    CdcSchema.withEnvelope(src, rowsQuery = rq)
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new CdcTable(schema, properties)

  override def supportsExternalMetadata(): Boolean = true
}

object CdcTableProvider {
  def requiredOptions(options: CaseInsensitiveStringMap): (String, String, String) = {
    def req(k: String): String = {
      val v = options.get(k)
      require(v != null && v.nonEmpty, s"binlogcdc: option '$k' is required")
      v
    }
    (req("indexFile"), req("database"), req("table"))
  }

  /** The wire format behind the index file: `gcdc` (default), `mysql`
    * (real binlog v4, MysqlBinlog.scala) or `mariadb` (the MariaDB fork
    * of v4). Validated here so a typo fails at planning, not inside an
    * executor. */
  def formatName(options: CaseInsensitiveStringMap): String = {
    val f = Option(options.get("binlogFormat")).getOrElse("gcdc")
    BinlogFormats.forName(f) // fail loud on unknown names
    f
  }

  /** `rowsQuery=true` appends the nullable `__query` envelope column
    * (statement text: MySQL's ROWS_QUERY event, MariaDB's
    * ANNOTATE_ROWS). Wire-format-gated: the GCDC format has no
    * statement-text event, so an all-null column there would read as
    * "the producer logged none" — indistinguishable from lying. */
  def rowsQuery(options: CaseInsensitiveStringMap): Boolean = {
    val on = options.getBoolean("rowsQuery", false)
    val f = formatName(options)
    require(!on || f == "mysql" || f == "mariadb",
      "binlogcdc: rowsQuery=true requires binlogFormat=mysql or mariadb " +
        "(ROWS_QUERY / ANNOTATE_ROWS are their wire events)")
    on
  }
}

class CdcTable(tableSchema: StructType, properties: util.Map[String, String])
    extends Table with SupportsRead with SupportsMetadataColumns {
  override def name(): String = {
    val o = new CaseInsensitiveStringMap(properties)
    s"binlogcdc:${o.get("database")}.${o.get("table")}"
  }
  override def schema(): StructType = tableSchema
  override def metadataColumns(): Array[MetadataColumn] = Array(CdcTable.Pos)
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(runtime: CaseInsensitiveStringMap): ScanBuilder = {
    // catalog-loaded tables carry indexFile/database/table as TABLE
    // properties (the reader passes only per-scan options); runtime
    // options win on conflict — matched case-INsensitively, else a
    // case-differing duplicate would survive into the
    // CaseInsensitiveStringMap constructor and win nondeterministically
    val merged = new util.HashMap[String, String](properties)
    runtime.asCaseSensitiveMap().forEach { (k, v) =>
      merged.keySet.removeIf(_.equalsIgnoreCase(k))
      merged.put(k, v)
    }
    val options = new CaseInsensitiveStringMap(merged)
    val (idx, db, tbl) = CdcTableProvider.requiredOptions(options)
    val maxBytes = Option(options.get("maxBytesPerTrigger")).map(_.toLong)
    val drift = Option(options.get("schemaDrift")).getOrElse("fail") match {
      case "fail" => false
      case "epochs" => true
      case other => throw new IllegalArgumentException(
        s"binlogcdc: schemaDrift must be 'fail' or 'epochs', got '$other'")
    }
    val format = CdcTableProvider.formatName(options)
    CdcTableProvider.rowsQuery(options) // fail loud: needs a statement-text wire
    CdcSchema.sourceWidth(tableSchema) // fail at planning, not in executors
    // schemaDrift=epochs works on both formats: gcdc TABLE_MAPs always
    // carry names; MySQL needs binlog_row_metadata=FULL — a
    // MINIMAL-metadata log fails loud AT the drift point (the decoder
    // has no names to remap by), not here at planning
    // Position bounds as base pushed filters, so row filtering,
    // sidecar/PREVIOUS_GTIDS file pruning, honest pushdown declines
    // (aggregates/offset), AND the stream's initial-offset prefix skip
    // all treat them like user predicates:
    //  - asofGtid/asofTm (catalog VERSION/TIMESTAMP AS OF): upper bound
    //  - startingGtid: lower bound — "consume changes AFTER transaction
    //    G" (exclusive), the Kafka startingOffsets analogue; a fresh
    //    stream starts at the first possibly-relevant file instead of
    //    replaying the log
    //  - startingTimestamp: the __tm twin — "consume changes stamped AT
    //    or after T" (INCLUSIVE epoch micros, matching asofTm's unit and
    //    Kafka's startingTimestamp convention of the first record with
    //    timestamp >= T); same sidecar prefix skip via the __tm bounds
    val bounds: Array[Filter] = Array(
      Option(options.get("asofGtid")).map(v =>
        LessThanOrEqual(CdcSchema.GtidCol, v.toLong): Filter),
      Option(options.get("asofTm")).map(v =>
        LessThanOrEqual(CdcSchema.TmCol, v.toLong): Filter),
      Option(options.get("startingGtid")).map(v =>
        GreaterThan(CdcSchema.GtidCol, v.toLong): Filter),
      Option(options.get("startingTimestamp")).map(v =>
        GreaterThanOrEqual(CdcSchema.TmCol, v.toLong): Filter)).flatten
    new CdcScanBuilder(idx, db, tbl, tableSchema, maxBytes, drift, format, bounds)
  }
}

object CdcTable {
  /** `__pos`: see [[CdcSchema.PosCol]]. */
  object Pos extends MetadataColumn {
    override def name(): String = CdcSchema.PosCol
    override def dataType(): DataType = LongType
    override def isNullable: Boolean = false
    override def comment(): String =
      "log position: file ordinal << 32 | byte offset of the row image"
  }
}

/** Honest pushdown: only filters fully evaluable on the envelope columns
  * are accepted; everything else is returned to Spark (contrast with the
  * reference advertising indexes it cannot serve, SURVEY.md §3.2). */
class CdcScanBuilder(indexFile: String, db: String, table: String, full: StructType,
    maxBytesPerTrigger: Option[Long] = None, driftEpochs: Boolean = false,
    format: String = "gcdc", baseFilters: Array[Filter] = Array.empty)
    extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with SupportsPushDownLimit with SupportsPushDownOffset
    with SupportsPushDownAggregates {

  private var required: StructType = full
  // base filters (time travel) apply even if Spark never calls
  // pushFilters (e.g. the streaming path)
  private var pushed: Array[Filter] = baseFilters
  private var limit: Option[Int] = None
  // the pushed OFFSET, with the per-file stats it was accepted on
  private var offset: Option[(Long, Seq[Option[CdcCodec.TableStats]])] = None
  // resolved (value, type) per pushed aggregate expression, in order
  private var aggResult: Option[Seq[(Any, org.apache.spark.sql.types.DataType)]] = None
  // this scan's one view of the log: pushdown decides from it, and the
  // built CdcScan plans from the same object
  private val snapshot = new CdcLogSnapshot(indexFile, format)
  private lazy val tableStats = snapshot.tableStats(db, table)

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (ours, theirs) = filters.partition(EnvelopePredicate.supports)
    pushed = baseFilters ++ ours
    theirs // Spark re-evaluates these above the scan
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** LIMIT pushdown (partial: per-partition): each partition reader
    * stops decoding after `l` post-filter rows — a LIMIT 10 over a
    * million-file log touches at most 10 events per file instead of
    * decoding everything and discarding above the scan. Spark still
    * applies the global limit. */
  override def pushLimit(l: Int): Boolean = { limit = Some(l); true }
  override def isPartiallyPushed: Boolean = true

  /** OFFSET pushdown (complete): exact global skip in log order, served
    * by the v2 sidecar row counts — files wholly inside the skipped
    * prefix are PRUNED from the scan (never opened), and only the
    * boundary file decodes-and-discards its remainder. The resumable
    * "consume the log from row N" idiom: at 100 TB an OFFSET deep into
    * the log touches metadata for the prefix, not bytes. Declined
    * honestly whenever exactness can't be guaranteed: pushed filters
    * (post-filter skip isn't precomputable from row counts), a pushed
    * limit (Spark composes them above instead), or any file whose
    * metadata lacks v2 per-table row counts. */
  override def pushOffset(o: Int): Boolean = {
    // aggResult guard: Spark pushes aggregates BEFORE limit/offset — an
    // accepted offset over an already-pushed aggregate would be silently
    // dropped by CdcAggScan (sidecarAgg's offset.isEmpty only covers the
    // reverse order)
    val ok = pushed.isEmpty && limit.isEmpty && aggResult.isEmpty &&
      tableStats.isDefined
    if (ok) offset = tableStats.map((o.toLong, _))
    ok
  }

  /** COMPLETE aggregate pushdown from v2 sidecar metadata: an
    * unfiltered, ungrouped COUNT(*) / MIN / MAX over the envelope
    * columns is answered from the tiny per-file sidecars (per-table row
    * counts and gtid/time bounds, written at log close) — at 100 TB,
    * reading ~1M small meta files instead of decoding the log. MAX of
    * __gtid is the CDC high-water-mark query. Declined honestly
    * (reference anti-lesson) whenever anything could change the answer:
    * pushed filters, a pushed limit, GROUP BY, an unsupported aggregate,
    * or any file whose metadata lacks v2 per-table stats. */
  private def sidecarAgg(agg: Aggregation): Option[Seq[(Any, org.apache.spark.sql.types.DataType)]] = {
    import org.apache.spark.sql.types.LongType
    val pushable = pushed.isEmpty && limit.isEmpty && offset.isEmpty &&
      agg.groupByExpressions.isEmpty && agg.aggregateExpressions.nonEmpty
    if (!pushable) return None
    // Spark calls supportCompletePushDown and pushAggregation
    // separately; both read the one snapshot, whose metadata sweep over
    // the (possibly ~1M) files runs once
    val stats = tableStats match {
      case Some(s) => s.flatten // the files that mention the table
      case None => return None
    }
    val total = stats.map(_.rows).sum
    // bounds are usable only if every contributing file recorded them
    val boundsKnown = stats.forall(s => s.rows == 0 || s.minGtid != Long.MaxValue)
    val tmType = full(full.fieldIndex(CdcSchema.TmCol)).dataType
    def refName(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
      e match {
        case r: NamedReference if r.fieldNames.length == 1 => Some(r.fieldNames()(0))
        case _ => None
      }
    def bound(pick: CdcCodec.TableStats => Long, reduce: (Long, Long) => Long,
        micros: Boolean): Option[(Any, org.apache.spark.sql.types.DataType)] = {
      if (!boundsKnown) None
      else {
        val contributing = stats.filter(_.rows > 0)
        val v: Any =
          if (contributing.isEmpty) null
          else {
            val x = contributing.map(pick).reduce(reduce)
            if (micros) x * 1000L else x // sidecar ms -> __tm micros
          }
        Some((v, if (micros) tmType else LongType))
      }
    }
    val resolved = agg.aggregateExpressions.toSeq.map {
      case _: CountStar => Some((total: Any, LongType))
      case m: Min => refName(m.column) match {
        case Some(CdcSchema.GtidCol) => bound(_.minGtid, math.min, micros = false)
        case Some(CdcSchema.TmCol) => bound(_.minTs, math.min, micros = true)
        case _ => None
      }
      case m: Max => refName(m.column) match {
        case Some(CdcSchema.GtidCol) => bound(_.maxGtid, math.max, micros = false)
        case Some(CdcSchema.TmCol) => bound(_.maxTs, math.max, micros = true)
        case _ => None
      }
      case _ => None
    }
    if (resolved.forall(_.isDefined)) Some(resolved.map(_.get)) else None
  }
  override def supportCompletePushDown(agg: Aggregation): Boolean =
    sidecarAgg(agg).isDefined
  override def pushAggregation(agg: Aggregation): Boolean = {
    aggResult = sidecarAgg(agg)
    aggResult.isDefined
  }

  override def build(): Scan = aggResult match {
    case Some(vals) => new CdcAggScan(db, table, indexFile, vals)
    case None =>
      // the scan plans from the snapshot pushdown decided on: planInput-
      // Partitions must not re-read ~1M metas, and a sidecar vanishing
      // between push time and plan time must not shift the skip boundary
      new CdcScan(snapshot, db, table, full, required, pushed,
        maxBytesPerTrigger, limit, offset, driftEpochs)
  }
}

/** One bounded snapshot of the log for one batch scan, taken lazily:
  * the index read once and the adapter's metadata for that file list.
  * Aggregate and OFFSET pushdown and partition planning (re-plans after
  * a runtime filter included) all derive from it, so a scan never plans
  * from one metadata source and answers from another. One per scan
  * object, never shared across queries; streams never force it. */
private[sources] final class CdcLogSnapshot(val indexFile: String,
    val format: String) {
  /** (file, adapter metadata) in index order. */
  lazy val files: Seq[(String, Option[CdcCodec.FileMeta])] = {
    val fs = CdcCodec.readIndex(indexFile)
    fs.zip(BinlogFormats.forName(format).filesMeta(fs))
  }

  /** Per-file stats of (db, table) aligned with `files` — None for a
    * file that never mentions the table (zero rows) — iff every file's
    * metadata carries v2 per-table stats, which only GCDC sidecars
    * record; None otherwise, and for an empty log. Row counts are
    * output-row semantics (updates count twice). */
  def tableStats(db: String, table: String): Option[Seq[Option[CdcCodec.TableStats]]] =
    if (files.isEmpty || !files.forall(_._2.exists(_.tables.isDefined))) None
    else Some(files.map(_._2.get.tables.get.get((db, table))))
}

/** Single-partition scan serving a completely-pushed aggregation
  * straight from sidecar metadata — the log itself is never opened. */
class CdcAggScan(db: String, table: String, indexFile: String,
    values: Seq[(Any, org.apache.spark.sql.types.DataType)]) extends Scan with Batch {
  override def readSchema(): StructType = {
    var s = new StructType()
    values.zipWithIndex.foreach { case ((_, dt), i) => s = s.add(s"agg$i", dt) }
    s
  }
  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] =
    Array(CdcAggPartition(values.map(_._1).toArray))
  override def createReaderFactory(): PartitionReaderFactory =
    (p: InputPartition) => {
      val cp = p.asInstanceOf[CdcAggPartition]
      new PartitionReader[InternalRow] {
        private var emitted = false
        override def next(): Boolean = if (emitted) false else { emitted = true; true }
        override def get(): InternalRow = new GenericInternalRow(cp.values.clone())
        override def close(): Unit = ()
      }
    }
  override def description(): String =
    s"binlogcdc $db.$table [$indexFile] PushedAggregates: [${values.size} exprs]"
}

final case class CdcAggPartition(values: Array[Any]) extends InputPartition

class CdcScan private[sources] (log: CdcLogSnapshot, db: String, table: String,
    full: StructType, required: StructType, filters: Array[Filter],
    maxBytesPerTrigger: Option[Long] = None, limit: Option[Int] = None,
    offset: Option[(Long, Seq[Option[CdcCodec.TableStats]])] = None,
    driftEpochs: Boolean = false)
    extends Scan with Batch with SupportsReportStatistics
    with SupportsRuntimeFiltering {

  private def indexFile = log.indexFile
  private def format = log.format

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  /** Spark builds a stream's scan without column pruning, so it never
    * says whether the query reads `__pos`: a stream's rows always carry
    * it, last, where Spark's metadata output puts it (a query that does
    * not read it projects its own columns off the row). A position the
    * stream cannot order therefore fails loud even when the query never
    * reads it. */
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new CdcMicroBatchStream(indexFile, db, table, full,
      if (required.fieldNames.contains(CdcSchema.PosCol)) required
      else required.add(CdcTable.Pos.name(), CdcTable.Pos.dataType(), nullable = false),
      filters, maxBytesPerTrigger, driftEpochs, format)

  /** Runtime filtering (the DPP analogue for a log source): when the CDC
    * table joins a filtered build side on an envelope column, Spark hands
    * the build side's values/bounds here at execution time and whole log
    * files drop out via the same (min,max) sidecar used for static
    * pruning. At 100 TB — ~1M log-file partitions — this is the
    * difference between scanning the log and scanning a slice, without
    * the reference's dishonest index surface (binlogdb.cc:396-461). */
  private var runtimeFilters: Array[Filter] = Array.empty
  // only advertise envelope columns that SURVIVED column pruning: Spark
  // resolves these names against the scan's (pruned) output, and a
  // pruned-away column fails analysis ("Unable to resolve __tm")
  // under a pushed OFFSET no runtime filtering is offered: pruning a
  // file at execution time would shift the skip boundary and break the
  // exact global skip the builder promised
  override def filterAttributes(): Array[NamedReference] =
    if (offset.isDefined) Array.empty
    else Seq(CdcSchema.GtidCol, CdcSchema.TmCol)
      .filter(required.fieldNames.contains(_))
      .map(Expressions.column).toArray
  override def filter(fs: Array[Filter]): Unit =
    runtimeFilters = fs.filter(EnvelopePredicate.supports)
  private def allFilters: Array[Filter] = filters ++ runtimeFilters

  // set by planInputPartitions, read by reportDriverMetrics (Spark
  // calls it after planning) — surfaces the pruning story in the UI
  @volatile private var prunedFiles = 0L

  /** Both branches filter the snapshot's (file, metadata) list, so a
    * second call — Spark re-plans after a runtime filter — reads no
    * metadata again. */
  override def planInputPartitions(): Array[InputPartition] = {
    val files = log.files.zipWithIndex.map { case ((f, meta), i) => (f, i, meta) }
    // (file, its ordinal in the index: the high half of __pos, rows of
    // the skipped prefix it still discards)
    val kept: Seq[(String, Int, Long)] = offset match {
      case Some((o, stats)) =>
        // pushed OFFSET: whole files inside the skipped prefix drop out
        // by row count alone; the boundary file carries the residual
        // skip. CdcScanBuilder pushed it only with no filters, on the
        // snapshot's per-file stats (aligned with `files`).
        var remaining = o
        files.zip(stats).flatMap { case ((f, i, _), st) =>
          val rows = st.fold(0L)(_.rows)
          if (remaining >= rows) { remaining -= rows; None }
          else {
            val skip = remaining
            remaining = 0L
            Some((f, i, skip))
          }
        }
      case None =>
        // GCDC metadata is its per-file sidecars, MySQL's the gtid bounds
        // of consecutive files' PREVIOUS_GTIDS events — either way, files
        // provably outside the pushed/runtime filters never open. v2
        // sidecars prune per-TABLE: a file whose map omits the table has
        // zero rows for it (skip outright, filters or not), and the
        // table's own gtid/time bounds are tighter than the file-global
        // ones in a multi-table log
        files.collect { case (f, i, meta)
            if EnvelopePredicate.keepsFile(db, table, allFilters, meta) => (f, i, 0L) }
    }
    prunedFiles = files.length - kept.length
    val headerLen = BinlogFormats.forName(format).headerLen
    kept.map { case (f, i, skip) =>
      CdcInputPartition(f, i, headerLen, Long.MaxValue, skip): InputPartition
    }.toArray
  }

  override def supportedCustomMetrics(): Array[org.apache.spark.sql.connector.metric.CustomMetric] =
    Array(new CdcMetrics.EventsDecoded, new CdcMetrics.RowsEmitted,
      new CdcMetrics.FilesPruned)

  override def reportDriverMetrics(): Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    Array(CdcMetrics.TaskMetric("cdcFilesPruned", prunedFiles))

  override def createReaderFactory(): PartitionReaderFactory =
    CdcReaderFactory(db, table, full, required, allFilters, limit, driftEpochs,
      format)

  /** Reference's cost hooks (binlogdb.h:178-187) map to Catalyst stats:
    * sizeInBytes = Σ log-file sizes feeds broadcast decisions. */
  override def estimateStatistics(): Statistics = new Statistics {
    private val bytes = CdcCodec.readIndex(indexFile)
      .map(graft.cdc.LogFs.lenOrZero).sum
    override def sizeInBytes(): util.OptionalLong = util.OptionalLong.of(bytes)
    override def numRows(): util.OptionalLong = util.OptionalLong.empty()
  }

  override def description(): String =
    s"binlogcdc $db.$table [$indexFile]" +
      limit.map(l => s" PushedLimit: $l").getOrElse("") +
      offset.map { case (o, _) => s" PushedOffset: $o" }.getOrElse("")
}

/** Byte range [startPos, endPos) of one log file at event boundaries.
  * Control events (TABLE_MAP/GTID) before startPos are replayed for state
  * but emit no rows — so a range never splits an update pair and never
  * misses schema/txn state (SURVEY.md §7.3.1-2). `fileOrdinal` is the
  * file's place in the index, the high half of `__pos`. */
final case class CdcInputPartition(path: String, fileOrdinal: Int,
    startPos: Long, endPos: Long, skipRows: Long = 0L)
    extends InputPartition

final case class CdcReaderFactory(db: String, table: String,
    full: StructType, required: StructType, filters: Array[Filter],
    limit: Option[Int] = None, driftEpochs: Boolean = false,
    format: String = "gcdc")
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new CdcPartitionReader(partition.asInstanceOf[CdcInputPartition],
      db, table, full, required, filters, limit, driftEpochs, format)
}

class CdcPartitionReader(part: CdcInputPartition, db: String, table: String,
    full: StructType, required: StructType, filters: Array[Filter],
    limit: Option[Int] = None, driftEpochs: Boolean = false,
    format: String = "gcdc")
    extends PartitionReader[InternalRow] {

  private val adapter = BinlogFormats.forName(format)

  // validated: envelope block at the END, no source column reusing a
  // reserved name — so the name-keyed layout below is unambiguous
  private val sourceWidth = CdcSchema.sourceWidth(full)
  required.fieldNames.foreach(n =>
    require(full.fieldNames.contains(n) || n == CdcSchema.PosCol,
      s"unexpected column $n"))
  // source column -> its ordinal in the output row (-1: not read)
  private val outOrd: Array[Int] =
    Array.tabulate(sourceWidth)(i => required.fieldNames.indexOf(full(i).name))
  private val src = adapter.open(part.path)
  private val events =
    CdcPartitionReader.rangeEvents(adapter, src, part.startPos, part.endPos)
  private val sourceSchema = StructType(full.fields.take(sourceWidth))
  private val decoder = adapter.decoder(db, table, i => outOrd(i) >= 0,
    expectedSchema = Some(sourceSchema), driftEpochs = driftEpochs)

  private var eventsDecoded = 0L
  private var rowsEmitted = 0L

  // The decoder writes each admitted row straight into `rows` as an
  // UnsafeRow in `required` order; next() points `current` at each in
  // turn and refills `rows`, one event at a time, once all are out. The
  // pushed envelope predicate, the pushed OFFSET residual (the boundary
  // file discards its part of the skipped prefix) and the pushed LIMIT
  // (Spark applies the global limit above) admit rows before the
  // decoder reads their images.
  private val rows = RowSink.unsafeRows(outOrd,
    Array(CdcSchema.OpCol, CdcSchema.GtidCol, CdcSchema.TmCol,
      CdcSchema.SourceIdCol, CdcSchema.QueryCol, CdcSchema.PosCol)
      .map(required.fieldNames.indexOf(_)),
    required.length, EnvelopePredicate.compile(filters), part.skipRows,
    limit.fold(Long.MaxValue)(_.toLong), part.fileOrdinal)
  private var read = 0
  private val current = new UnsafeRow(required.length)

  override def currentMetricsValues(): Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    Array(CdcMetrics.TaskMetric("cdcEventsDecoded", eventsDecoded),
      CdcMetrics.TaskMetric("cdcRowsEmitted", rowsEmitted))

  override def next(): Boolean = {
    if (limit.exists(rowsEmitted >= _)) return false
    if (read == rows.size) {
      rows.clear()
      read = 0
      // skipped row events never reach here: the metric is decode work,
      // not reads. Control events decode to no rows (state only).
      while (rows.size == 0 && events.hasNext) {
        eventsDecoded += 1
        decoder.decode(events.next(), rows)
      }
      if (rows.size == 0) return false
    }
    rows.pointTo(current, read)
    read += 1
    rowsEmitted += 1
    true
  }

  override def get(): InternalRow = current

  override def close(): Unit = src.close()
}

private[sources] object CdcPartitionReader {
  /** The byte-range rule, in one place: the events of one log file that
    * a reader of [startPos, endPos) decodes. Control events always pass
    * (decoder state needs them wherever the range starts); row events
    * before `startPos` are skipped without decoding (an already-consumed
    * prefix); iteration stops at the first event at or past `endPos`.
    * The partition reader and the fan-out decode both read through it;
    * the caller owns `src` and closes it. */
  private[sources] def rangeEvents(adapter: BinlogFormatAdapter,
      src: RawEventSource, startPos: Long,
      endPos: Long): Iterator[CdcCodec.RawEvent] =
    src.takeWhile(_.pos < endPos)
      .filter(ev => ev.pos >= startPos || !adapter.isRowEvent(ev.tpe))
}

/** Compiles pushed source filters into a predicate over the envelope. */
object EnvelopePredicate {

  /** The planner's whole-file keep/skip decision: does this file
    * possibly hold relevant rows of the table under the pushed
    * filters? ONE definition shared by batch planning and the stream's
    * initial-offset prefix skip, so the two can never diverge. */
  def keepsFile(db: String, table: String, filters: Array[Filter],
      meta: Option[CdcCodec.FileMeta]): Boolean =
    mightContainTable(db, table, meta) &&
      mightMatchFile(filters, narrowToTable(db, table, meta))

  /** Could the pushed filters prune a log PREFIX at all? Only a LOWER
    * bound on a file-tracked column (__gtid/__tm) can: prefix files
    * hold the LOW values, so upper bounds (asof) prune the tail, which
    * an initial offset cannot use. Gates the stream's initial-offset
    * metadata sweep so filter shapes that cannot skip pay nothing. */
  def hasPrefixBound(filters: Array[Filter]): Boolean = {
    def lower(f: Filter): Boolean = f match {
      case GreaterThan(a, _) => numCols(a) && a != CdcSchema.OpCol
      case GreaterThanOrEqual(a, _) => numCols(a) && a != CdcSchema.OpCol
      case EqualTo(a, _) => numCols(a) && a != CdcSchema.OpCol
      case In(a, _) => numCols(a) && a != CdcSchema.OpCol
      case And(l, r) => lower(l) || lower(r)
      case _ => false // Or/Not: conservative (no skip)
    }
    filters.exists(lower)
  }

  /** Whole-file pruning against the (min,max) sidecar: returns false only
    * when the pushed filters PROVABLY reject every row the file can
    * contain. Conservative: unknown filters / missing sidecar => keep.
    * (SURVEY §4.3 — the per-file min/max (__gtid,__tm) footer.) */
  def mightMatchFile(filters: Array[Filter], meta: Option[CdcCodec.FileMeta]): Boolean =
    meta match {
      case None => true
      case Some(m) => filters.forall(f => mightMatch(f, m))
    }

  /** False only when a v2 sidecar PROVES the file holds no rows of the
    * table (the per-table map is authoritative: absent key = zero rows).
    * v1/absent sidecars keep the file (conservative). */
  def mightContainTable(db: String, table: String,
      meta: Option[CdcCodec.FileMeta]): Boolean =
    meta.flatMap(_.tables) match {
      case Some(ts) => ts.get((db, table)).exists(_.rows > 0)
      case None => true
    }

  /** Tighten file-global (gtid, time) bounds to the target table's own,
    * when a v2 sidecar recorded them — in a multi-table log the table's
    * range is a subset of the file's, so range predicates prune more. */
  def narrowToTable(db: String, table: String,
      meta: Option[CdcCodec.FileMeta]): Option[CdcCodec.FileMeta] =
    meta.map { m =>
      m.tables.flatMap(_.get((db, table))) match {
        case Some(s) if s.rows > 0 && s.minGtid != Long.MaxValue =>
          m.copy(minGtid = s.minGtid, maxGtid = s.maxGtid,
            minTsMs = s.minTs, maxTsMs = s.maxTs)
        case _ => m
      }
    }

  private def mightMatch(f: Filter, m: CdcCodec.FileMeta): Boolean = {
    def range(a: String): Option[(Long, Long)] = a match {
      case CdcSchema.GtidCol => Some((m.minGtid, m.maxGtid))
      case CdcSchema.TmCol =>
        Some((DateTimeUtils.millisToMicros(m.minTsMs), DateTimeUtils.millisToMicros(m.maxTsMs)))
      case _ => None // __op and anything else: not tracked per file
    }
    def lit(a: String, v: Any): Long = a match {
      case CdcSchema.TmCol => toMicros(v)
      case _ => num(v)
    }
    f match {
      case EqualTo(a, v) => range(a).forall { case (lo, hi) => lit(a, v) >= lo && lit(a, v) <= hi }
      case GreaterThan(a, v) => range(a).forall { case (_, hi) => hi > lit(a, v) }
      case GreaterThanOrEqual(a, v) => range(a).forall { case (_, hi) => hi >= lit(a, v) }
      case LessThan(a, v) => range(a).forall { case (lo, _) => lo < lit(a, v) }
      case LessThanOrEqual(a, v) => range(a).forall { case (lo, _) => lo <= lit(a, v) }
      case In(a, vs) => range(a).forall { case (lo, hi) =>
        vs.exists(v => lit(a, v) >= lo && lit(a, v) <= hi) }
      case And(l, r) => mightMatch(l, m) && mightMatch(r, m)
      case Or(l, r) => mightMatch(l, m) || mightMatch(r, m)
      case _ => true // Not(...), IsNotNull, unknown: keep the file
    }
  }
  private val numCols = Set(CdcSchema.OpCol, CdcSchema.GtidCol, CdcSchema.TmCol)
  // __source_id: equality/membership only (a lexicographic range over
  // server uuids is meaningless); sidecars carry no per-source bounds,
  // so these filter ROWS in the decoder and never prune files
  private def eqCols(a: String): Boolean = numCols(a) || a == CdcSchema.SourceIdCol

  def supports(f: Filter): Boolean = f match {
    case EqualTo(a, _) => eqCols(a)
    case GreaterThan(a, _) => numCols(a)
    case GreaterThanOrEqual(a, _) => numCols(a)
    case LessThan(a, _) => numCols(a)
    case LessThanOrEqual(a, _) => numCols(a)
    case In(a, _) => eqCols(a)
    case And(l, r) => supports(l) && supports(r)
    case Or(l, r) => supports(l) && supports(r)
    case Not(c) => supports(c)
    case IsNotNull(a) => eqCols(a) // envelope cols are never null
    case _ => false
  }

  private def toMicros(v: Any): Long = v match {
    case t: java.sql.Timestamp => DateTimeUtils.fromJavaTimestamp(t)
    case i: java.time.Instant => DateTimeUtils.instantToMicros(i)
    case l: java.time.LocalDateTime => DateTimeUtils.localDateTimeToMicros(l)
    case l: Long => l
    case other => throw new IllegalArgumentException(s"bad __tm literal: $other")
  }

  private def num(v: Any): Long = v match {
    case i: Int => i.toLong
    case l: Long => l
    case s: Short => s.toLong
    case b: Byte => b.toLong
    case other => throw new IllegalArgumentException(s"bad numeric literal: $other")
  }

  /** Row predicate over the full envelope. */
  def compile(filters: Array[Filter]): EnvelopePred = {
    if (filters.isEmpty) return EnvelopePred.All
    val ps = filters.map(one)
    (op, gtid, tm, src) => {
      var i = 0
      while (i < ps.length && ps(i)(op, gtid, tm, src)) i += 1
      i == ps.length
    }
  }

  private def utf8(v: Any): UTF8String = v match {
    case s: String => UTF8String.fromString(s)
    case u: UTF8String => u
    case other => throw new IllegalArgumentException(s"bad __source_id literal: $other")
  }

  private def one(f: Filter): EnvelopePred = f match {
    case EqualTo(CdcSchema.SourceIdCol, v) =>
      val rhs = utf8(v); (_, _, _, s) => rhs == s
    case In(CdcSchema.SourceIdCol, vs) =>
      val set = vs.map(utf8).toSet; (_, _, _, s) => set.contains(s)
    case EqualTo(a, v) => cmp(a, v, _ == _)
    case GreaterThan(a, v) => cmp(a, v, _ > _)
    case GreaterThanOrEqual(a, v) => cmp(a, v, _ >= _)
    case LessThan(a, v) => cmp(a, v, _ < _)
    case LessThanOrEqual(a, v) => cmp(a, v, _ <= _)
    case In(a, vs) =>
      val set = a match {
        case CdcSchema.TmCol => vs.map(toMicros).toSet
        case _ => vs.map(num).toSet
      }
      val col = field(a)
      (op, g, t, _) => set.contains(pick(col, op, g, t))
    case And(l, r) =>
      val (pl, pr) = (one(l), one(r)); (o, g, t, s) => pl(o, g, t, s) && pr(o, g, t, s)
    case Or(l, r) =>
      val (pl, pr) = (one(l), one(r)); (o, g, t, s) => pl(o, g, t, s) || pr(o, g, t, s)
    case Not(c) =>
      val p = one(c); (o, g, t, s) => !p(o, g, t, s)
    case IsNotNull(_) => (_, _, _, _) => true
    case other => throw new IllegalArgumentException(s"unsupported pushed filter: $other")
  }

  /** Numeric envelope column → 0 (__op), 1 (__gtid) or 2 (__tm). */
  private def field(a: String): Int = a match {
    case CdcSchema.OpCol => 0
    case CdcSchema.GtidCol => 1
    case CdcSchema.TmCol => 2
  }

  private def pick(field: Int, op: Int, gtid: Long, tm: Long): Long =
    if (field == 0) op.toLong else if (field == 1) gtid else tm

  private def cmp(a: String, v: Any, op: (Long, Long) => Boolean): EnvelopePred = {
    val rhs = a match {
      case CdcSchema.TmCol => toMicros(v)
      case _ => num(v)
    }
    val col = field(a)
    (o, g, t, _) => op(pick(col, o, g, t), rhs)
  }
}

/** Structured Streaming over the same decoder (SURVEY.md §2.C): offset =
  * (fileIdx, bytePos) at COMPLETE-event boundaries — total log order
  * preserved, update pairs atomic within a batch, and a torn event at
  * the producer's write frontier is never skipped (offsets snap to
  * `lastCompleteOffset`, so the event is picked up once fully written).
  * `maxBytesPerTrigger` bounds each micro-batch (admission control). */
class CdcMicroBatchStream(indexFile: String, db: String, table: String,
    full: StructType, required: StructType, filters: Array[Filter],
    maxBytesPerTrigger: Option[Long] = None, driftEpochs: Boolean = false,
    format: String = "gcdc")
    extends MicroBatchStream with SupportsAdmissionControl
    with org.apache.spark.sql.connector.read.streaming.ReportsSourceMetrics {

  /** Consumer lag in the unit that matters for a log consumer: bytes
    * (and whole files) between the committed offset and the log's
    * current complete-event frontier — per StreamingQueryProgress
    * entry, the alerting signal for "is this pipeline keeping up".
    * Costs one file-length stat per file plus the frontier probe the
    * poll does anyway. */
  // rotated (non-newest) files are immutable: their lengths memoize
  // across progress ticks, so each metrics() call stats only the open
  // newest file instead of ~1M closed ones
  private val closedLengths = scala.collection.mutable.HashMap.empty[String, Long]

  override def metrics(latestConsumed: java.util.Optional[Offset]): java.util.Map[String, String] = {
    val fs = files
    // frontier computed against the SAME file list as the prefix sums:
    // a rotation between two independent index reads would otherwise
    // count the new file's position against the wrong prefix
    val frontier =
      if (fs.isEmpty) CdcOffset(0, adapter.headerLen)
      else CdcOffset(fs.length - 1, adapter.lastCompleteOffset(fs.last))
    val consumed =
      if (latestConsumed.isPresent)
        CdcOffset.fromJson(latestConsumed.get.json())
      else CdcOffset(0, adapter.headerLen)
    // one cumulative prefix-sum of file lengths per call (not one
    // File.length sweep per offset)
    val prefix = new Array[Long](fs.length + 1)
    var i = 0
    while (i < fs.length) {
      val len =
        if (i == fs.length - 1) graft.cdc.LogFs.lenOrZero(fs(i))
        else closedLengths.get(fs(i)) match {
          case Some(l) => l
          case None =>
            val l = graft.cdc.LogFs.lenOrZero(fs(i))
            // memoize only a plausible observation: a transiently
            // shrunken/invisible file (the FS race latestOffset's
            // monotonic guard documents) must re-stat next tick, not
            // under-report lag forever
            if (l > adapter.headerLen) closedLengths.update(fs(i), l)
            l
        }
      prefix(i + 1) = prefix(i) + len
      i += 1
    }
    def absPos(o: CdcOffset): Long = {
      // clamp the file index (a consumed offset can reference a file
      // count observed earlier)
      val fi = math.min(o.fileIdx, math.max(0, fs.length - 1))
      prefix(fi) + o.pos
    }
    val behindBytes = math.max(0L, absPos(frontier) - absPos(consumed))
    val behindFiles = math.max(0, frontier.fileIdx - consumed.fileIdx)
    java.util.Map.of(
      "behindBytes", behindBytes.toString,
      "behindFiles", behindFiles.toString,
      "frontierFileIdx", frontier.fileIdx.toString)
  }

  private val adapter = BinlogFormats.forName(format)

  private def files: Seq[String] = CdcCodec.readIndex(indexFile)

  /** A FRESH query (no checkpoint) starts at the first file the pushed
    * filters cannot prove irrelevant — the same sidecar/PREVIOUS_GTIDS
    * pruning predicate the batch planner uses, applied to the log
    * PREFIX (offsets are contiguous, so only a prefix can skip). With
    * `startingGtid` (or any pushed `__gtid` lower bound), a consumer
    * starting "from transaction G" on a 100 TB log opens the tail, not
    * the history. Conservative: a file with unknown metadata stops the
    * skip; checkpointed restarts never come through here. */
  override def initialOffset(): Offset = {
    val fs = files
    // gate on a prunable LOWER bound: upper-bound-only filter shapes
    // (asof) cannot skip a prefix, so they must not pay the metadata
    // sweep. When a lower bound exists, the sweep is one filesMeta
    // call at stream CREATION — the same cost envelope as a single
    // batch planning pass.
    if (fs.isEmpty || !EnvelopePredicate.hasPrefixBound(filters))
      return CdcOffset(0, adapter.headerLen)
    val metas = adapter.filesMeta(fs).toIndexedSeq
    val n = fs.length
    var idx = 0
    while (idx < n &&
        !EnvelopePredicate.keepsFile(db, table, filters, metas(idx)))
      idx += 1
    if (idx >= n) unboundedLatest() // whole log provably irrelevant
    else CdcOffset(idx, adapter.headerLen)
  }

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  override def reportLatestOffset(): Offset = unboundedLatest()

  private def unboundedLatest(): CdcOffset = {
    val fs = files
    if (fs.isEmpty) CdcOffset(0, adapter.headerLen)
    else CdcOffset(fs.length - 1, adapter.lastCompleteOffset(fs.last))
  }

  override def latestOffset(): Offset = unboundedLatest()

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[CdcOffset]
    val raw = maxBytesPerTrigger match {
      case None => unboundedLatest()
      case Some(budgetBytes) => boundedEnd(s, budgetBytes)
    }
    // MONOTONIC guard: a poll can observe a log file transiently
    // shrunken (producer replacing the tail, FS visibility race). An
    // end < start would make Spark COMMIT the regressed offset, and the
    // next batch would re-read — and so re-emit — everything between
    // the regressed point and the true frontier. Exactly-once requires
    // never stepping backwards; the shrunken observation resolves
    // itself on the next poll once the file is whole again.
    if (raw.fileIdx < s.fileIdx || (raw.fileIdx == s.fileIdx && raw.pos < s.pos)) s
    else raw
  }

  /** Walk files from `start`, accumulating complete-event bytes until the
    * budget is spent; always admits at least one event (progress). The
    * batch ends at the last admitted event: the first event that does
    * not fit ends the walk, so no later (smaller) event is admitted
    * past it — planning spans every byte up to the end offset. */
  private def boundedEnd(start: CdcOffset, budgetBytes: Long): CdcOffset = {
    val fs = files
    var budget = budgetBytes
    var fi = math.min(start.fileIdx, math.max(0, fs.length - 1))
    var last = start
    var admitted = false
    while (fi < fs.length) {
      val from = if (fi == start.fileIdx) start.pos else adapter.headerLen
      val fileEnd = adapter.lastCompleteOffset(fs(fi))
      if (fileEnd > from) {
        // scan event boundaries within [from, fileEnd]
        val r = adapter.open(fs(fi))
        try {
          var torn = false
          while (!torn && r.hasNext) {
            val ev = r.next()
            if (ev.endPos > fileEnd) torn = true
            else if (ev.pos >= from) {
              val sz = ev.endPos - ev.pos
              if (admitted && sz > budget) return last
              budget -= sz
              last = CdcOffset(fi, ev.endPos)
              admitted = true
              if (budget <= 0) return last
            }
          }
        } finally r.close()
      }
      fi += 1
      // nothing admitted yet: the batch starts at the next file's head
      if (fi < fs.length && !admitted) last = CdcOffset(fi, adapter.headerLen)
    }
    last
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[CdcOffset]
    val e = end.asInstanceOf[CdcOffset]
    val fs = files
    val parts = mutable.ArrayBuffer.empty[InputPartition]
    var i = s.fileIdx
    while (i <= e.fileIdx && i < fs.length) {
      val startPos = if (i == s.fileIdx) s.pos else adapter.headerLen
      val endPos = if (i == e.fileIdx) e.pos else graft.cdc.LogFs.lenOrZero(fs(i))
      if (endPos > startPos) parts += CdcInputPartition(fs(i), i, startPos, endPos)
      i += 1
    }
    parts.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    CdcReaderFactory(db, table, full, required, filters, driftEpochs = driftEpochs,
      format = format)

  override def deserializeOffset(json: String): Offset = CdcOffset.fromJson(json)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

final case class CdcOffset(fileIdx: Int, pos: Long) extends Offset {
  override def json(): String = s"""{"fileIdx":$fileIdx,"pos":$pos}"""
}

object CdcOffset {
  private val Re = """\{"fileIdx":(\d+),"pos":(\d+)\}""".r
  def fromJson(s: String): CdcOffset = s match {
    case Re(f, p) => CdcOffset(f.toInt, p.toLong)
    case _ => throw new IllegalArgumentException(s"bad CdcOffset json: $s")
  }
}
