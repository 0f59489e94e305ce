package graft.cdc

import org.apache.spark.sql.types._

/** Schema model for the CDC log (SURVEY.md §1).
  *
  * The reference exposes the MySQL binlog as a CDC table whose schema is
  * the source table's columns plus three engine-synthesized metadata
  * columns (`__op`, `__gtid`, `__tm`) recognized by name
  * (/root/reference/binlog_table_reader.cc:126-141 and §1.5). We keep the
  * same names and op codes so queries written against the reference's
  * convention port verbatim.
  */
object CdcSchema {

  /** Operation codes, exactly the reference's
    * (binlog_table_reader.cc:277-280, 211-215, 351-354, 126-130). */
  object Op {
    val Delete = 0
    val Insert = 1
    val UpdateBefore = 2
    val UpdateAfter = 3
  }

  val OpCol = "__op"
  val GtidCol = "__gtid"
  val TmCol = "__tm"
  /** Source-server identity — the half of the MySQL GTID
    * (`server_uuid:gno`) the reference drops (binlog_table_reader.h:32
    * keeps only the bare gno; its commented-out PREVIOUS_GTIDS handling
    * at binlog_table_reader.cc:418-425 never landed). Without it, two
    * sources' gno sequences collide and `__gtid`-based dedup/offsets
    * silently interleave in multi-source replication (cdc19's oracle
    * proves the collision and its resolution). */
  val SourceIdCol = "__source_id"

  /** The source id synthesized for GTID events that predate the
    * source-id field (MySQL's anonymous-GTID analogue). */
  val AnonymousSourceId = "00000000-0000-0000-0000-000000000000"

  /** The originating SQL statement from ROWS_QUERY_LOG_EVENT (mysqld's
    * `binlog_rows_query_log_events=ON` — one event per row-logged
    * statement, written before the statement's TABLE_MAPs). Opt-in via
    * the `rowsQuery` source option, nullable: a log written with the
    * server default (OFF) truthfully reads NULL. MySQL-format only —
    * the GCDC wire has no statement text. */
  val QueryCol = "__query"

  val envelope: Seq[StructField] = Seq(
    StructField(OpCol, IntegerType, nullable = false),
    StructField(GtidCol, LongType, nullable = false),
    StructField(TmCol, TimestampNTZType, nullable = false),
    StructField(SourceIdCol, StringType, nullable = false))

  val queryField: StructField = StructField(QueryCol, StringType, nullable = true)

  /** Hidden metadata column of every `binlogcdc` table: the row image's
    * place in the log, (file ordinal in the index) << 32 | (byte offset
    * of the image in its file) — strictly increasing in log order. Read
    * only when a query names it (`df.metadataColumn("__pos")`); never
    * part of `SELECT *`. Latest-image compaction orders by it. */
  val PosCol = "__pos"

  /** CDC table schema = source columns (binlog column order) + envelope
    * (+ `__query` when the source is opened with `rowsQuery=true`). */
  def withEnvelope(source: StructType, rowsQuery: Boolean = false): StructType =
    StructType(source.fields ++ envelope ++ (if (rowsQuery) Seq(queryField) else Nil))

  /** Source-column count of a full CDC table schema, validating its
    * shape: the envelope block (optionally followed by `__query`) must
    * sit at the END, and no source column may reuse a reserved name —
    * projection and width lookups are by NAME, so a source column
    * called `__op`/`__query` would otherwise be silently hijacked by
    * the envelope instead of failing loud (and one called `__pos`
    * would shadow the hidden log-position column). */
  def sourceWidth(full: StructType): Int = {
    val names = full.fieldNames
    val hasQuery = names.nonEmpty && names.last == QueryCol
    val expected = envelope.map(_.name) ++ (if (hasQuery) Seq(QueryCol) else Nil)
    val w = names.length - expected.length
    require(w >= 0 && names.drop(w).sameElements(expected),
      s"binlogcdc: CDC schema must end with the envelope columns " +
        s"${expected.mkString(", ")} (got ${names.mkString(", ")})")
    val reserved = envelope.map(_.name).toSet + QueryCol + PosCol
    names.take(w).find(reserved) match {
      case Some(n) => throw new IllegalArgumentException(
        s"binlogcdc: source column '$n' collides with a reserved envelope " +
          "column name — rename it in the source table")
      case None => w
    }
  }

  /** Wire type tags for the self-contained log format (§7.0: no MySQL
    * binlog library exists offline; semantics, not bytes, are the
    * contract). Tags cover the §1.4 type table. */
  object Tag {
    val LONG = 1: Byte
    val INT = 2: Byte
    val DOUBLE = 3: Byte
    val STRING = 4: Byte
    val TIMESTAMP = 5: Byte // micros since epoch (instant)
    val BINARY = 6: Byte
    val DATE = 7: Byte // days since epoch
    val FLOAT = 8: Byte
    val SHORT = 9: Byte
    val BYTE = 10: Byte
    val BOOLEAN = 11: Byte
    val DECIMAL = 12: Byte // unscaled bigint bytes; (p,s) in TABLE_MAP
    val TIMESTAMP_NTZ = 13: Byte // micros, no timezone (MySQL DATETIME)

    def of(dt: DataType): Byte = dt match {
      case LongType => LONG
      case IntegerType => INT
      case DoubleType => DOUBLE
      case StringType => STRING
      case TimestampType => TIMESTAMP
      case TimestampNTZType => TIMESTAMP_NTZ
      case BinaryType => BINARY
      case DateType => DATE
      case FloatType => FLOAT
      case ShortType => SHORT
      case ByteType => BYTE
      case BooleanType => BOOLEAN
      case _: DecimalType => DECIMAL
      case other => throw new IllegalArgumentException(s"unsupported CDC type: $other")
    }

    def toDataType(tag: Byte, precision: Int, scale: Int): DataType = tag match {
      case LONG => LongType
      case INT => IntegerType
      case DOUBLE => DoubleType
      case STRING => StringType
      case TIMESTAMP => TimestampType
      case TIMESTAMP_NTZ => TimestampNTZType
      case BINARY => BinaryType
      case DATE => DateType
      case FLOAT => FloatType
      case SHORT => ShortType
      case BYTE => ByteType
      case BOOLEAN => BooleanType
      case DECIMAL => DecimalType(precision, scale)
      case other => throw new IllegalArgumentException(s"unknown CDC type tag: $other")
    }
  }
}
