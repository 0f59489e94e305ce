package graft

import graft.cdc.{BinlogFormats, CdcCodec, CdcFixture, CdcSchema}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/** The scan and the CdcRow adapter are two views of one decoder: the
  * DSv2 scan writes rows straight into the UnsafeRows Spark reads,
  * `CdcRowDecoder.decode(ev)` reads the same sink back as CdcRows.
  * [[DecodeParity.check]] pins that both views of a log agree row for
  * row; this suite runs it over every MySQL/MariaDB fixture family the
  * oracle queries read, and GoldenBinlogSpec over its authored bytes. */
object DecodeParity {
  /** `options` are the binlogcdc reader options (indexFile, database,
    * table, binlogFormat, ...); `schema` an explicit source schema,
    * `cols` a projection of the loaded frame. */
  def check(spark: SparkSession, options: Map[String, String],
      schema: Option[StructType] = None, cols: Seq[String] = Nil): Unit = {
    val reader = spark.read.format("binlogcdc").options(options)
    val loaded = schema.fold(reader)(s => reader.schema(CdcSchema.withEnvelope(s))).load()
    val df = if (cols.isEmpty) loaded else loaded.select(cols.map(col): _*)
    val out = df.schema
    val scanned = df.queryExecution.toRdd.map(_.copy()).collect()
      .map(r => r.toSeq(out).map(norm)).toSeq

    val source = StructType(loaded.schema.fields.take(CdcSchema.sourceWidth(loaded.schema)))
    val srcIdx = out.fieldNames.map(n => source.fieldNames.indexOf(n))
    val adapter = BinlogFormats.forName(options.getOrElse("binlogFormat", "gcdc"))
    val drift = options.get("schemaDrift").contains("epochs")
    val decoded = CdcCodec.readIndex(options("indexFile")).flatMap { f =>
      val r = adapter.open(f)
      val dec = adapter.decoder(options("database"), options("table"),
        i => srcIdx.contains(i), Some(source), drift)
      try r.flatMap(dec.decode).map { row =>
        out.fieldNames.toSeq.zip(srcIdx).map {
          case (CdcSchema.OpCol, _) => row.op
          case (CdcSchema.GtidCol, _) => row.gtid
          case (CdcSchema.TmCol, _) => row.tmMicros
          case (CdcSchema.SourceIdCol, _) => row.sourceId
          case (CdcSchema.QueryCol, _) => row.query
          case (_, i) => norm(row.values(i))
        }
      }.toList finally r.close()
    }
    assert(scanned.nonEmpty, s"no rows in ${options("indexFile")}")
    assert(scanned == decoded,
      s"${options("indexFile")}: the scan and decode(ev) disagree")
  }

  private def norm(v: Any): Any = v match {
    case b: Array[Byte] => b.toSeq
    case other => other
  }
}

class DecodeParitySpec extends SparkTestBase {
  private val sfDir = "/root/testdata/sf0.001"

  private def opts(index: String, table: String, format: String = "mysql",
      extra: Map[String, String] = Map.empty): Map[String, String] =
    Map("indexFile" -> index, "database" -> CdcFixture.Db, "table" -> table,
      "binlogFormat" -> format) ++ extra

  test("every MySQL fixture family reads the same through the scan and decode(ev)") {
    val families: Seq[(SparkSession => String, String)] = Seq(
      (CdcFixture.ensureMysql(_, sfDir), CdcFixture.Table),
      (CdcFixture.ensureMysqlZstd(_, sfDir), CdcFixture.Table),
      (CdcFixture.ensureMysqlDecimal(_, sfDir), CdcFixture.DecimalTable),
      (CdcFixture.ensureMysqlUnsigned(_, sfDir), CdcFixture.UnsignedTable),
      (CdcFixture.ensureMysqlChar(_, sfDir), CdcFixture.CharTable),
      (CdcFixture.ensureMysqlJson(_, sfDir), CdcFixture.JsonTable),
      (CdcFixture.ensureMysqlEnum(_, sfDir), CdcFixture.EnumTable),
      (CdcFixture.ensureMysqlYearBitTime(_, sfDir), CdcFixture.YearBitTimeTable),
      (CdcFixture.ensureMysqlTimeFsp(_, sfDir), CdcFixture.TimeFspTable),
      (CdcFixture.ensureMysqlDtFsp(_, sfDir), CdcFixture.DtFspTable),
      (CdcFixture.ensureMysqlLegacy(_, sfDir), CdcFixture.LegacyTable),
      (CdcFixture.ensureMysqlDdlScope(_, sfDir), CdcFixture.DdlScopeTable),
      (CdcFixture.ensureMysqlTagged(_, sfDir), CdcFixture.TaggedTable))
    families.foreach { case (ensure, table) =>
      DecodeParity.check(spark, opts(ensure(spark), table))
    }
  }

  test("MariaDB, rows-query, drift-epoch, MINIMAL-metadata and partial-image logs read the same") {
    DecodeParity.check(spark,
      opts(CdcFixture.ensureMaria(spark, sfDir), CdcFixture.MariaTable, "mariadb"))
    DecodeParity.check(spark,
      opts(CdcFixture.ensureMariaCompressed(spark, sfDir), CdcFixture.MariaTable, "mariadb"))
    DecodeParity.check(spark, opts(CdcFixture.ensureMysqlRowsQuery(spark, sfDir),
      CdcFixture.RowsQueryTable, extra = Map("rowsQuery" -> "true")))
    DecodeParity.check(spark, opts(CdcFixture.ensureMysqlDrifted(spark, sfDir),
      CdcFixture.MysqlEvolvingTable, extra = Map("schemaDrift" -> "epochs")))
    val full = spark.read.format("binlogcdc")
      .options(opts(CdcFixture.ensureMysql(spark, sfDir), CdcFixture.Table)).load()
    DecodeParity.check(spark,
      opts(CdcFixture.ensureMysqlMinimal(spark, sfDir), CdcFixture.Table),
      schema = Some(StructType(full.schema.fields.take(CdcSchema.sourceWidth(full.schema)))))
    // partial row images: only the columns every image carries
    DecodeParity.check(spark,
      opts(CdcFixture.ensureMysqlMinimalImage(spark, sfDir), CdcFixture.MinImageTable),
      cols = Seq("o_orderkey", CdcSchema.OpCol, CdcSchema.GtidCol, CdcSchema.TmCol))
    DecodeParity.check(spark,
      opts(CdcFixture.ensureMysqlPartialJson(spark, sfDir), CdcFixture.PartialJsonTable),
      cols = Seq("o_orderkey", CdcSchema.OpCol, CdcSchema.GtidCol, "jdoc"))
  }

  test("a PARTIAL_JSON after image a pushed __op filter keeps still finds its dropped before image's document") {
    // the predicate runs before decode, so the before image of each
    // update is dropped unread — except for the JSON documents its
    // after image's diffs apply to
    val load = () => spark.read.format("binlogcdc")
      .options(opts(CdcFixture.ensureMysqlPartialJson(spark, sfDir),
        CdcFixture.PartialJsonTable)).load()
    val after = load().filter(col(CdcSchema.OpCol) === CdcSchema.Op.UpdateAfter)
      .select("o_orderkey", CdcSchema.GtidCol, "jdoc").collect().toSeq
    val all = load().select("o_orderkey", CdcSchema.GtidCol, "jdoc", CdcSchema.OpCol)
      .collect().toSeq.filter(_.getInt(3) == CdcSchema.Op.UpdateAfter)
      .map(r => org.apache.spark.sql.Row(r.get(0), r.get(1), r.get(2)))
    assert(after.nonEmpty && after == all)
  }
}
