package graft.sources

import java.util

import graft.cdc.{BinlogFormats, CdcSchema}
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** A DSv2 `TableCatalog` over one CDC log: pure-SQL access to every
  * table the log maps, the Spark analogue of the reference's
  * `CREATE TABLE ... ENGINE=BINLOGDB` DDL surface (SURVEY §2.A A24)
  * without per-table registration:
  *
  * {{{
  * spark.conf.set("spark.sql.catalog.cdc", classOf[CdcTableCatalog].getName)
  * spark.conf.set("spark.sql.catalog.cdc.indexFile", "/logs/mysql-bin.index")
  * spark.conf.set("spark.sql.catalog.cdc.binlogFormat", "mysql")
  * spark.sql("SHOW TABLES IN cdc.shop")
  * spark.sql("SELECT * FROM cdc.shop.orders WHERE __op = 1")
  * }}}
  *
  * Namespaces are the log's databases; `SHOW TABLES`/`SHOW NAMESPACES`
  * list from the adapter's bounded-I/O table enumeration (newest
  * mapping file's TABLE_MAPs — one file read at any log size; complete
  * from sidecars on GCDC), memoized per log frontier so repeated
  * SHOW/resolution calls don't re-read the file. `loadTable` infers
  * any table's schema exactly (newest-first walk, early exit on a
  * match; a MISS walks the whole log — same cost as the provider
  * path's inference, so probe listed identifiers). For MINIMAL-
  * metadata mysql logs (no column names on the wire) set the catalog
  * option `schema.<db>.<table>` to a DDL string — the catalog-path
  * twin of `spark.read.schema(...)`. Identifiers are CASE-SENSITIVE,
  * matching the log's bytes (MySQL-on-Linux semantics,
  * lower_case_table_names=0). The catalog is read-only: the log is
  * the producer's — create/alter/drop fail loud, same posture as the
  * source's write rejection (A22-A23). Catalog options beyond
  * `indexFile`/`binlogFormat` (e.g. `rowsQuery`) flow into every
  * loaded table as table properties; per-read options still win.
  */
class CdcTableCatalog extends TableCatalog with SupportsNamespaces {

  private var catalogName: String = _
  private var opts: CaseInsensitiveStringMap = _
  // listing memo keyed on the log frontier (file count + newest file's
  // identity/length/mtime + its SIDECAR's length/mtime): rotation,
  // append, or the final log-close — which publishes only the .meta,
  // touching no data bytes — all invalidate, and a SHOW NAMESPACES
  // followed by SHOW TABLES costs one file read, not one per call
  @volatile private var listingMemo: (String, Seq[(String, String)]) = _

  private def listing: Seq[(String, String)] = {
    val files = graft.cdc.CdcCodec.readIndex(indexFile)
    val key = files.length + ":" + files.lastOption.map { f =>
      val (pl, pm) = graft.cdc.LogFs.statKey(f)
      val (ml, mm) = graft.cdc.LogFs.statKey(f + ".meta")
      s"$f:$pl:$pm:$ml:$mm"
    }.getOrElse("")
    val memo = listingMemo
    if (memo != null && memo._1 == key) memo._2
    else {
      val l = adapter.listTables(indexFile)
      listingMemo = (key, l)
      l
    }
  }

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    require(options.get("indexFile") != null && options.get("indexFile").nonEmpty,
      s"catalog '$name': option 'spark.sql.catalog.$name.indexFile' is required")
    // the provider's own resolution, so a bad format or a rowsQuery the
    // format has no wire event for fails here, not at the first scan
    CdcTableProvider.rowsQuery(options)
    catalogName = name
    opts = options
  }

  override def name(): String = catalogName

  private def indexFile: String = opts.get("indexFile")
  private def adapter = BinlogFormats.forName(CdcTableProvider.formatName(opts))

  // ------------------------------------------------------------ namespaces

  override def listNamespaces(): Array[Array[String]] =
    listing.map(_._1).distinct.map(Array(_)).toArray

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces()
    else if (namespaceExists(namespace)) Array.empty // single-level: no children
    else throw new NoSuchNamespaceException(catalogName +: namespace.toSeq)

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.length == 1 && listing.exists(_._1 == namespace(0))

  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] =
    if (namespaceExists(namespace)) util.Collections.emptyMap()
    else throw new NoSuchNamespaceException(catalogName +: namespace.toSeq)

  override def createNamespace(namespace: Array[String],
      metadata: util.Map[String, String]): Unit = readOnly("CREATE NAMESPACE")
  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit = readOnly("ALTER NAMESPACE")
  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean =
    readOnly("DROP NAMESPACE")

  // ---------------------------------------------------------------- tables

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val listed = listing
    if (namespace.length != 1 || !listed.exists(_._1 == namespace(0)))
      throw new NoSuchNamespaceException(catalogName +: namespace.toSeq)
    listed.filter(_._1 == namespace(0))
      .map { case (_, t) => Identifier.of(namespace, t) }.toArray
  }

  override def loadTable(ident: Identifier): Table = load(ident, Map.empty)

  /** SQL time travel over the log's own ordering:
    * `VERSION AS OF <gno>` = the event prefix up to and including
    * transaction gno (the log's version axis — cdc09's as-of snapshot
    * is this plus latest-image compaction on top), and
    * `TIMESTAMP AS OF <t>` = events with `__tm <= t`. Both ride the
    * ordinary envelope pushdown, so sidecar/PREVIOUS_GTIDS file
    * pruning skips everything past the requested point — time travel
    * deep into a 100 TB log reads the prefix, not the log. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val gno = try version.toLong catch {
      case _: NumberFormatException => throw new IllegalArgumentException(
        s"catalog '$catalogName': VERSION AS OF over a CDC log takes the " +
          s"transaction id (gtid gno, a number); got '$version'")
    }
    load(ident, Map("asofGtid" -> gno.toString))
  }

  override def loadTable(ident: Identifier, timestampMicros: Long): Table =
    load(ident, Map("asofTm" -> timestampMicros.toString))

  private def load(ident: Identifier, extra: Map[String, String]): Table = {
    if (ident.namespace.length != 1) throw new NoSuchTableException(ident)
    val db = ident.namespace()(0)
    val tbl = ident.name()
    // MINIMAL-metadata escape hatch: the TABLE_MAP carries types but no
    // names, so inference cannot work — the catalog-path twin of
    // spark.read.schema(...) is a per-table DDL option
    val src = Option(opts.get(s"schema.$db.$tbl")) match {
      case Some(ddl) => StructType.fromDDL(ddl)
      case None =>
        try adapter.inferSourceSchema(indexFile, db, tbl)
          .getOrElse(throw new NoSuchTableException(ident))
        catch {
          case e: IllegalArgumentException
              if e.getMessage != null && e.getMessage.contains("MINIMAL") =>
            throw new IllegalArgumentException(
              s"catalog '$catalogName': TABLE_MAP for $db.$tbl carries no " +
                "column names (binlog_row_metadata=MINIMAL) — set the catalog " +
                s"option 'spark.sql.catalog.$catalogName.schema.$db.$tbl' to " +
                "the table's DDL (e.g. 'id BIGINT, name STRING')", e)
        }
    }
    val props = new util.HashMap[String, String]()
    opts.asCaseSensitiveMap().forEach((k, v) => props.put(k, v))
    props.put("database", db)
    props.put("table", tbl)
    extra.foreach { case (k, v) => props.put(k, v) }
    new CdcTable(CdcSchema.withEnvelope(src,
      rowsQuery = CdcTableProvider.rowsQuery(opts)), props)
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): Table =
    readOnly("CREATE TABLE")
  override def alterTable(ident: Identifier, changes: TableChange*): Table =
    readOnly("ALTER TABLE")
  override def dropTable(ident: Identifier): Boolean = readOnly("DROP TABLE")
  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    readOnly("RENAME TABLE")

  private def readOnly(op: String): Nothing =
    throw new UnsupportedOperationException(
      s"catalog '$catalogName' is a read-only view of a CDC log owned by its " +
        s"producer — $op is not supported (mutate the SOURCE database; its " +
        "changes arrive through the log)")
}
