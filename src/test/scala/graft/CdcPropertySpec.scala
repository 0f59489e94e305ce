package graft

import java.nio.file.Files

import graft.cdc.{CdcCodec, CdcSchema}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** Property-based specs (SURVEY.md §5.2.2): random row batches encode to
  * a CDC log and decode back to exactly the input ⊎ envelope; random op
  * sequences compacted by latest-image equal a model-based fold.
  */
class CdcPropertySpec extends SparkTestBase {

  private def check(prop: Prop): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(30), prop)
    assert(res.passed, res.status.toString)
  }

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("v", DoubleType),
    StructField("s", StringType), StructField("flag", BooleanType)))

  private val genValue: Gen[Array[Any]] = for {
    id <- Gen.chooseNum(Long.MinValue, Long.MaxValue)
    v <- Gen.oneOf(Gen.chooseNum(-1e9, 1e9), Gen.const(Double.NaN),
      Gen.const(Double.PositiveInfinity))
    s <- Gen.oneOf(
      Gen.asciiPrintableStr.map(x => UTF8String.fromString(x): Any),
      Gen.const(null: Any))
    flag <- Gen.oneOf(true, false)
  } yield Array[Any](id, v, s, flag)

  private def sameVal(a: Any, b: Any): Boolean = (a, b) match {
    case (null, null) => true
    case (x: Double, y: Double) => java.lang.Double.compare(x, y) == 0
    case (x, y) => x == y
  }

  test("property: TIME2 round-trips arbitrary (fsp, signed micros); legacy temporals too") {
    import graft.cdc.MysqlBinlog
    val maxSec = 838L * 3600 + 59 * 60 + 59
    val genCase: Gen[(Int, Long, Long, Long)] = for {
      fsp <- Gen.chooseNum(0, 6)
      unit = math.pow(10, 6 - fsp).toLong
      // TIME2: random duration in range, snapped to the fsp grid —
      // small magnitudes included so negative values with a zero
      // integer part (the intpart++ seam) are generated often
      t2raw <- Gen.oneOf(
        Gen.chooseNum(-maxSec * 1000000L, maxSec * 1000000L),
        Gen.chooseNum(-2000000L, 2000000L))
      t2 = t2raw / unit * unit
      // legacy TIME: whole seconds
      tl <- Gen.chooseNum(-maxSec, maxSec).map(_ * 1000000L)
      // legacy TIMESTAMP: u32 unix seconds (0 is the zero-date -> null,
      // pinned separately by the golden-bytes test)
      ts <- Gen.chooseNum(1L, 0xffffffffL).map(_ * 1000000L)
    } yield (fsp, t2, tl, ts)
    check(Prop.forAll(genCase) { case (fsp, t2, tl, ts) =>
      val schema = StructType(Seq(
        StructField("t2", LongType), StructField("tl", LongType),
        StructField("ts", TimestampType)))
      val dir = Files.createTempDirectory("time-prop").toString
      val f = s"$dir/mysql-bin.000001"
      val w = new MysqlBinlog.Writer(f, checksum = true,
        timeFsp = Map("t2" -> fsp), legacyTimeCols = Set("tl"),
        legacyTimestampCols = Set("ts"))
      w.tableMap(0L, 1L, "db", "t", schema)
      w.gtid(0L, 1L, "11111111-2222-3333-4444-555555555555")
      w.writeRows(0L, 1L, schema, Seq(Array[Any](t2, tl, ts)))
      w.close()
      val r = graft.cdc.MysqlBinlogAdapter.open(f)
      val dec = graft.cdc.MysqlBinlogAdapter.decoder("db", "t", _ => true, None)
      val rows = try {
        val out = Seq.newBuilder[CdcCodec.CdcRow]
        while (r.hasNext) out ++= dec.decode(r.next())
        out.result()
      } finally r.close()
      graft.TmpDirs.deleteRecursively(new java.io.File(dir))
      val v = rows.head.values
      v(0) == t2 && v(1) == tl && v(2) == ts
    })
  }

  test("property: DATETIME2/TIMESTAMP2 round-trip arbitrary (fsp, micros)") {
    import graft.cdc.MysqlBinlog
    // the fsp-grid snap matters: the fraction is stored in ceil(fsp/2)
    // bytes whose unit follows the BYTE count, so odd fsps (1/3/5)
    // exercise the seam where a digits-based scale is off by 10x
    val genCase: Gen[(Int, Long, Long)] = for {
      fsp <- Gen.chooseNum(0, 6)
      unit = math.pow(10, 6 - fsp).toLong
      // DATETIME2: years 1000-9999 (the MySQL DATETIME domain)
      dtRaw <- Gen.chooseNum(-30610224000L, 253402300799L) // epoch sec range
      dtFrac <- Gen.chooseNum(0L, 999999L)
      dt = dtRaw * 1000000L + dtFrac / unit * unit
      // TIMESTAMP2: u32 unix seconds + frac (0 s = zero-date -> null)
      tsRaw <- Gen.chooseNum(1L, 0xffffffffL)
      tsFrac <- Gen.chooseNum(0L, 999999L)
      ts = tsRaw * 1000000L + tsFrac / unit * unit
    } yield (fsp, dt, ts)
    check(Prop.forAll(genCase) { case (fsp, dt, ts) =>
      val schema = StructType(Seq(
        StructField("dt", TimestampNTZType), StructField("ts", TimestampType)))
      val dir = Files.createTempDirectory("dtfsp-prop").toString
      val f = s"$dir/mysql-bin.000001"
      val w = new MysqlBinlog.Writer(f, checksum = true,
        dtFsp = Map("dt" -> fsp, "ts" -> fsp))
      w.tableMap(0L, 1L, "db", "t", schema)
      w.gtid(0L, 1L, "11111111-2222-3333-4444-555555555555")
      w.writeRows(0L, 1L, schema, Seq(Array[Any](dt, ts)))
      w.close()
      val r = graft.cdc.MysqlBinlogAdapter.open(f)
      val dec = graft.cdc.MysqlBinlogAdapter.decoder("db", "t", _ => true, None)
      val rows = try {
        val out = Seq.newBuilder[CdcCodec.CdcRow]
        while (r.hasNext) out ++= dec.decode(r.next())
        out.result()
      } finally r.close()
      graft.TmpDirs.deleteRecursively(new java.io.File(dir))
      val v = rows.head.values
      v(0) == dt && v(1) == ts
    })
  }

  test("property: NEWDECIMAL wire bytes round-trip arbitrary (p, s, value)") {
    import graft.cdc.MysqlBinlog
    val genCase: Gen[(Int, Int, java.math.BigDecimal)] = for {
      p <- Gen.chooseNum(1, 38)
      s <- Gen.chooseNum(0, p)
      // unscaled digits within precision, full range incl. boundaries
      digits <- Gen.chooseNum(1, p)
      unscaled <- Gen.listOfN(digits, Gen.chooseNum(0, 9))
        .map(_.mkString).map(new java.math.BigInteger(_))
      neg <- Gen.oneOf(true, false)
    } yield (p, s,
      new java.math.BigDecimal(if (neg) unscaled.negate() else unscaled, s))
    // precision <= 18 decodes to a long-backed Decimal, wider values
    // through BigInteger: p 1-38 spans both sides of the split, and the
    // widest long-backed values are checked at every scale
    def roundTrips(p: Int, s: Int, bd: java.math.BigDecimal): Boolean = {
      val bytes = MysqlBinlog.encodeDecimal(bd, p, s)
      // size invariant: exactly the declared wire width
      val sized = bytes.length == MysqlBinlog.ColType.decimalBinSize(p, s)
      // decode via a real log round trip (covers the reader path too)
      val schema = StructType(Seq(StructField("d", DecimalType(p, s))))
      val dir = Files.createTempDirectory("dec-prop").toString
      val f = s"$dir/mysql-bin.000001"
      val w = new MysqlBinlog.Writer(f, checksum = true)
      w.tableMap(0L, 1L, "db", "t", schema)
      w.gtid(0L, 1L, "11111111-2222-3333-4444-555555555555")
      w.writeRows(0L, 1L, schema, Seq(Array[Any](bd)))
      w.close()
      val r = graft.cdc.MysqlBinlogAdapter.open(f)
      val dec = graft.cdc.MysqlBinlogAdapter.decoder("db", "t", _ => true, None)
      val rows = try {
        val out = Seq.newBuilder[CdcCodec.CdcRow]
        while (r.hasNext) out ++= dec.decode(r.next())
        out.result()
      } finally r.close()
      graft.TmpDirs.deleteRecursively(new java.io.File(dir))
      val got = rows.head.values(0)
        .asInstanceOf[org.apache.spark.sql.types.Decimal].toJavaBigDecimal
      sized && got.compareTo(bd) == 0
    }
    check(Prop.forAll(genCase) { case (p, s, bd) => roundTrips(p, s, bd) })
    val edge = java.math.BigInteger.TEN.pow(18).subtract(java.math.BigInteger.ONE)
    for (s <- Seq(0, 2, 9, 18); v <- Seq(edge, edge.negate()))
      assert(roundTrips(18, s, new java.math.BigDecimal(v, s)), s"p=18 s=$s $v")
  }

  test("property: encode→decode round-trips arbitrary row batches") {
    check(Prop.forAll(Gen.nonEmptyListOf(Gen.nonEmptyListOf(genValue))) { batches =>
      val dir = Files.createTempDirectory("cdc-prop").toString
      val f = s"$dir/log.0"
      val w = new CdcCodec.LogWriter(f)
      w.tableMap(0L, 1L, "db", "t", schema)
      batches.zipWithIndex.foreach { case (batch, i) =>
        w.gtid(i.toLong, i.toLong)
        w.writeRows(i.toLong, 1L, schema, batch)
      }
      w.close()
      val r = new CdcCodec.EventReader(f)
      val dec = new CdcCodec.RowDecoder("db", "t")
      val rows = try r.flatMap(dec.decode).toList finally r.close()
      val flat = batches.flatten
      rows.length == flat.length &&
        rows.zip(flat).forall { case (got, want) =>
          schema.indices.forall(i => sameVal(got.values(i), want(i))) &&
            got.op == CdcSchema.Op.Insert
        } &&
        rows.zip(batches.zipWithIndex.flatMap { case (b, i) => b.map(_ => i.toLong) })
          .forall { case (got, gno) => got.gtid == gno }
    })
  }

  /** Model: fold an op sequence per key into the surviving image. The
    * engine side is a `binlogcdc` read compacted by `Cdc.latestImage`,
    * in every wire format, and a transaction may change one key several
    * times. */
  test("property: latest-image compaction equals a model fold") {
    // steps over a small key space: (key, op, value); op 1=insert,
    // 3=update-after (with 2 before), 0=delete; 1-4 steps per GTID
    val genStep = for {
      key <- Gen.chooseNum(0L, 5L)
      op <- Gen.oneOf(CdcSchema.Op.Insert, CdcSchema.Op.UpdateAfter, CdcSchema.Op.Delete)
      v <- Gen.chooseNum(-1000.0, 1000.0)
    } yield (key, op, v)
    val genTxn = Gen.chooseNum(1, 4).flatMap(n => Gen.listOfN(n, genStep))
    val genFormat = Gen.oneOf(ChangeLogs.formats)

    check(Prop.forAll(Gen.nonEmptyListOf(genTxn), genFormat) { (txns, format) =>
      val index = ChangeLogs.write(format, txns)
      ChangeLogs.latest(ChangeLogs.read(spark, format, index)) == ChangeLogs.fold(txns)
    })
  }

  /** Random schema pairs across an ALTER boundary: decode under
    * driftEpochs must implement exact union-by-name semantics — a column
    * with the same (name, type) in both epochs round-trips, anything
    * else reads null for the old epoch's rows, epoch-2 rows round-trip
    * fully. Covers rename, re-type, drop, reorder, and the additive
    * prefix (which flows through the pad path) in one property. */
  test("property: driftEpochs decode is exact union-by-name over random schema pairs") {
    val names = Vector("a", "b", "c", "d", "e")
    val genEpochSchema: Gen[StructType] = for {
      subset <- Gen.someOf(names).suchThat(_.nonEmpty)
      // permutation via generated sort keys (covers column reorder)
      keys <- Gen.listOfN(subset.size, Gen.chooseNum(0, 1000000))
      types <- Gen.listOfN(subset.size, Gen.oneOf(LongType: DataType, StringType: DataType))
    } yield {
      val picked = subset.toList.zip(keys).sortBy(_._2).map(_._1)
      StructType(picked.zip(types).map { case (n, t) => StructField(n, t) })
    }

    def genRow(s: StructType): Gen[Array[Any]] =
      Gen.sequence[List[Any], Any](s.fields.toList.map {
        case StructField(_, LongType, _, _) =>
          Gen.chooseNum(-1000L, 1000L).map(x => x: Any)
        case f =>
          Gen.alphaStr.map(x => UTF8String.fromString(x.take(8)): Any)
      }).map(_.toArray)

    val genCase = for {
      s1 <- genEpochSchema
      s2 <- genEpochSchema
      rows1 <- Gen.nonEmptyListOf(genRow(s1))
      rows2 <- Gen.nonEmptyListOf(genRow(s2))
    } yield (s1, s2, rows1, rows2)

    check(Prop.forAll(genCase) { case (s1, s2, rows1, rows2) =>
      val dir = Files.createTempDirectory("cdc-epoch-prop").toString
      val f = s"$dir/log.0"
      val w = new CdcCodec.LogWriter(f)
      w.tableMap(0L, 1L, "db", "t", s1)
      rows1.zipWithIndex.foreach { case (row, i) =>
        w.gtid(i.toLong, i.toLong); w.writeRows(i.toLong, 1L, s1, Seq(row))
      }
      w.tableMap(0L, 1L, "db", "t", s2)
      rows2.zipWithIndex.foreach { case (row, i) =>
        val g = 1000L + i
        w.gtid(g, g); w.writeRows(g, 1L, s2, Seq(row))
      }
      w.close()
      val r = new CdcCodec.EventReader(f)
      val dec = new CdcCodec.RowDecoder("db", "t",
        expectedSchema = Some(s2), driftEpochs = true)
      val got = try r.flatMap(dec.decode).toList finally r.close()

      // model: epoch-1 rows remap by (name, type); epoch-2 rows identity
      val expected1 = rows1.map { row =>
        s2.fields.map { ef =>
          s1.fields.indexWhere(df => df.name == ef.name && df.dataType == ef.dataType) match {
            case -1 => null
            case j => row(j)
          }
        }
      }
      got.length == rows1.length + rows2.length &&
        got.take(rows1.length).zip(expected1).forall { case (g, want) =>
          s2.indices.forall(i => sameVal(g.values(i), want(i)))
        } &&
        got.drop(rows1.length).zip(rows2).forall { case (g, want) =>
          s2.indices.forall(i => sameVal(g.values(i), want(i)))
        }
    })
  }

  /** The drift-epoch policy is promised IDENTICAL across formats (one
    * shared buildEpochPlan and one row sink) — this pins it end to end:
    * the same random ALTER case written as a GCDC log and as a REAL
    * MySQL binlog (FULL metadata) must decode to the same (op, gtid,
    * values) sequence under driftEpochs. Catches any divergence in the
    * two checkSchema matchers, not just the shared helpers. */
  test("property: drift epochs decode identically on the gcdc and mysql formats") {
    import graft.cdc.{MysqlBinlog, MysqlBinlogAdapter}
    val names = Vector("a", "b", "c", "d", "e")
    val genEpochSchema: Gen[StructType] = for {
      subset <- Gen.someOf(names).suchThat(_.nonEmpty)
      keys <- Gen.listOfN(subset.size, Gen.chooseNum(0, 1000000))
      types <- Gen.listOfN(subset.size, Gen.oneOf(LongType: DataType, StringType: DataType))
    } yield {
      val picked = subset.toList.zip(keys).sortBy(_._2).map(_._1)
      StructType(picked.zip(types).map { case (n, t) => StructField(n, t) })
    }
    def genRow(s: StructType): Gen[Array[Any]] =
      Gen.sequence[List[Any], Any](s.fields.toList.map {
        case StructField(_, LongType, _, _) =>
          Gen.chooseNum(-1000L, 1000L).map(x => x: Any)
        case _ =>
          Gen.alphaStr.map(x => UTF8String.fromString(x.take(8)): Any)
      }).map(_.toArray)
    val genCase = for {
      s1 <- genEpochSchema
      s2 <- genEpochSchema
      rows1 <- Gen.nonEmptyListOf(genRow(s1))
      rows2 <- Gen.nonEmptyListOf(genRow(s2))
    } yield (s1, s2, rows1, rows2)

    check(Prop.forAll(genCase) { case (s1, s2, rows1, rows2) =>
      val dir = Files.createTempDirectory("cdc-xfmt-prop").toString
      val gf = s"$dir/g.0"
      val gw = new CdcCodec.LogWriter(gf)
      gw.tableMap(0L, 1L, "db", "t", s1)
      rows1.zipWithIndex.foreach { case (row, i) =>
        gw.gtid(i.toLong, i.toLong); gw.writeRows(i.toLong, 1L, s1, Seq(row))
      }
      gw.tableMap(0L, 1L, "db", "t", s2)
      rows2.zipWithIndex.foreach { case (row, i) =>
        val g = 1000L + i
        gw.gtid(g, g); gw.writeRows(g, 1L, s2, Seq(row))
      }
      gw.close()
      val mf = s"$dir/m.000001"
      val sid = "11111111-2222-3333-4444-555555555555"
      val mw = new MysqlBinlog.Writer(mf)
      mw.tableMap(0L, 1L, "db", "t", s1)
      rows1.zipWithIndex.foreach { case (row, i) =>
        mw.gtid(i.toLong, i.toLong, sid); mw.writeRows(i.toLong, 1L, s1, Seq(row))
      }
      mw.tableMap(1L, 2L, "db", "t", s2) // fresh table id, like mysqld post-DDL
      rows2.zipWithIndex.foreach { case (row, i) =>
        val g = 1000L + i
        mw.gtid(g, g, sid); mw.writeRows(g, 2L, s2, Seq(row))
      }
      mw.close()

      val gr = new CdcCodec.EventReader(gf)
      val gdec = new CdcCodec.RowDecoder("db", "t",
        expectedSchema = Some(s2), driftEpochs = true)
      val gotG = try gr.flatMap(gdec.decode).toList finally gr.close()
      val mr = MysqlBinlogAdapter.open(mf)
      val mdec = MysqlBinlogAdapter.decoder("db", "t", _ => true,
        Some(s2), driftEpochs = true)
      val gotM = try mr.flatMap(mdec.decode).toList finally mr.close()

      val same = gotG.length == gotM.length && gotG.zip(gotM).forall { case (g, m) =>
        g.op == m.op && g.gtid == m.gtid &&
          s2.indices.forall(i => sameVal(g.values(i), m.values(i)))
      }
      graft.TmpDirs.deleteRecursively(new java.io.File(dir))
      same
    })
  }

  test("property: MINIMAL row images decode exactly up to the projection, fail beyond it") {
    import graft.cdc.MysqlBinlog
    // MySQL wire types only (no BooleanType on the wire)
    val mySchema = StructType(Seq(
      StructField("id", LongType), StructField("v", DoubleType),
      StructField("s", StringType), StructField("b", ByteType)))
    val genMyValue: Gen[Array[Any]] = for {
      base <- genValue
      bb <- Gen.chooseNum(-128, 127)
    } yield Array[Any](base(0), base(1), base(2), bb.toByte)
    // random update pairs over (id, v, s, b): before image = PK only,
    // after image = PK + the pair set's changed columns (the writer
    // derives the bitmap); a projection within the carried columns
    // round-trips, a projection touching an absent column throws
    val genPairs: Gen[List[(Array[Any], Array[Any])]] = for {
      n <- Gen.chooseNum(1, 8)
      pairs <- Gen.listOfN(n, for {
        before <- genMyValue
        changeV <- Gen.oneOf(true, false)
        changeS <- Gen.oneOf(true, false)
      } yield {
        val after = before.clone()
        if (changeV) after(1) = before(1).asInstanceOf[Double] + 1.0
        if (changeS) after(2) = UTF8String.fromString("chg")
        (before, after)
      })
    } yield pairs
    check(Prop.forAll(genPairs) { pairs =>
      val changed = (0 until mySchema.length).map(i =>
        i == 0 || pairs.exists(p => p._1(i) != p._2(i)))
      val dir = Files.createTempDirectory("minimg-prop").toString
      val f = s"$dir/mysql-bin.000001"
      val w = new MysqlBinlog.Writer(f, checksum = true)
      w.tableMap(0L, 1L, "db", "t", mySchema)
      w.gtid(0L, 1L, "11111111-2222-3333-4444-555555555555")
      w.updateRowsMinimal(0L, 1L, mySchema, pairs)
      w.close()
      def decode(needed: Int => Boolean): Seq[CdcCodec.CdcRow] = {
        val r = graft.cdc.MysqlBinlogAdapter.open(f)
        val dec = graft.cdc.MysqlBinlogAdapter.decoder("db", "t", needed, None)
        try {
          val out = Seq.newBuilder[CdcCodec.CdcRow]
          while (r.hasNext) out ++= dec.decode(r.next())
          out.result()
        } finally r.close()
      }
      // within the carried columns: PK always; changed columns on the
      // after image only — so the widest SAFE projection is {0}
      val keyOnly = decode(i => i == 0)
      val keyOk = keyOnly.length == pairs.length * 2 &&
        keyOnly.grouped(2).zip(pairs.iterator).forall { case (Seq(b, a), p) =>
          b.op == CdcSchema.Op.UpdateBefore && a.op == CdcSchema.Op.UpdateAfter &&
            sameVal(b.values(0), p._1(0)) && sameVal(a.values(0), p._2(0)) &&
            (1 until mySchema.length).forall(i => b.values(i) == null)
        }
      // any column beyond the before image's PK: fail loud, not NULL
      val widest = (1 until mySchema.length).find(changed) // absent from BEFORE
      val narrowFails = widest.forall { i =>
        try { decode(j => j == 0 || j == i); false }
        catch { case e: java.io.IOException =>
          e.getMessage.contains("binlog_row_image") }
      }
      // a column in NEITHER image: also fail loud
      val unchanged = (1 until mySchema.length).find(i => !changed(i))
      val absentFails = unchanged.forall { i =>
        try { decode(j => j == 0 || j == i); false }
        catch { case e: java.io.IOException =>
          e.getMessage.contains("binlog_row_image") }
      }
      graft.TmpDirs.deleteRecursively(new java.io.File(dir))
      keyOk && narrowFails && absentFails
    })
  }

  test("property: JSON-diff application equals the independently-applied full after-image") {
    // WL#2955 semantics have sharp edges (array INSERT at size = append,
    // nested REMOVE of an object's last member, REPLACE at root `$`) —
    // cdc44 pins one storyline; this round-trips RANDOM applicable diff
    // sequences: the reader's applyDiffs over the encoded vector must
    // equal the after-image computed INDEPENDENTLY with plain Jackson
    // tree edits, both canonicalized through the full binary-JSON
    // writer path (encode → decode), exactly what a full-value decode
    // of mysqld's resulting document would produce.
    import graft.cdc.JsonBinary
    import com.fasterxml.jackson.databind.JsonNode
    import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper

    val names = Vector("a", "bb", "c1", "kx", "a b", "q\"z")
    def pathText(legs: Seq[Either[String, Int]]): String =
      "$" + legs.map {
        case Left(m) if m.matches("[A-Za-z_][A-Za-z0-9_]*") => s".$m"
        case Left(m) => "." + "\"" + m.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
        case Right(k) => s"[$k]"
      }.mkString

    def genScalar: Gen[JsonNode] = Gen.oneOf(
      Gen.chooseNum(-1000000, 1000000).map(i => mapper.readTree(i.toString)),
      Gen.asciiPrintableStr.map(s => mapper.valueToTree[JsonNode](s.take(12))),
      Gen.oneOf("true", "false", "null").map(mapper.readTree))
    def genDoc(depth: Int): Gen[JsonNode] =
      if (depth <= 0) genScalar
      else Gen.frequency(
        3 -> genScalar,
        2 -> Gen.chooseNum(0, 3).flatMap(n =>
          Gen.listOfN(n, genDoc(depth - 1)).map { xs =>
            val a = mapper.createArrayNode(); xs.foreach(a.add); a: JsonNode
          }),
        2 -> Gen.chooseNum(0, 3).flatMap(n =>
          Gen.listOfN(n, Gen.zip(Gen.oneOf(names), genDoc(depth - 1))).map { kvs =>
            val o = mapper.createObjectNode()
            kvs.foreach { case (k, v) => o.set[JsonNode](k, v) }
            o: JsonNode
          }))

    // all (legs, node) pairs of the current document, root included
    def walk(node: JsonNode,
        legs: Vector[Either[String, Int]]): Vector[(Vector[Either[String, Int]], JsonNode)] = {
      val here = Vector((legs, node))
      node match {
        case o: ObjectNode =>
          here ++ o.properties().toArray(Array.empty[java.util.Map.Entry[String, JsonNode]])
            .toVector.flatMap(e => walk(e.getValue, legs :+ Left(e.getKey)))
        case a: ArrayNode =>
          here ++ (0 until a.size).flatMap(i => walk(a.get(i), legs :+ Right(i)))
        case _ => here
      }
    }

    // one applicable diff against the CURRENT document, applied to the
    // reference tree with plain Jackson ops (the independent applier)
    def genStep(root: JsonNode): Gen[Option[((Int, String, Option[String]), JsonNode)]] = {
      val sites = walk(root, Vector.empty)
      val objects = sites.collect { case (l, o: ObjectNode) => (l, o) }
      val arrays = sites.collect { case (l, a: ArrayNode) => (l, a) }
      val nonRoot = sites.filter(_._1.nonEmpty)
      val choices = Seq.newBuilder[Gen[((Int, String, Option[String]), JsonNode)]]
      // REPLACE an existing path (root included: full-document REPLACE)
      choices += Gen.zip(Gen.oneOf(sites), genDoc(1)).map { case ((l, _), v) =>
        if (l.isEmpty) ((0, "$", Some(mapper.writeValueAsString(v))), v)
        else {
          l.last match {
            case Left(m) => parentOf(root, l).asInstanceOf[ObjectNode].set[JsonNode](m, v)
            case Right(k) => parentOf(root, l).asInstanceOf[ArrayNode].set(k, v)
          }
          ((0, pathText(l), Some(mapper.writeValueAsString(v))), root)
        }
      }
      if (objects.nonEmpty) choices += Gen.zip(Gen.oneOf(objects), Gen.oneOf(names), genDoc(1))
        .map { case ((l, o), m, v) =>
          if (o.has(m)) { // fall back to replace of that member
            o.set[JsonNode](m, v)
            ((0, pathText(l :+ Left(m)), Some(mapper.writeValueAsString(v))), root)
          } else {
            o.set[JsonNode](m, v)
            ((1, pathText(l :+ Left(m)), Some(mapper.writeValueAsString(v))), root)
          }
        }
      if (arrays.nonEmpty) choices += Gen.zip(Gen.oneOf(arrays), genDoc(1))
        .flatMap { case ((l, a), v) => Gen.chooseNum(0, a.size).map { k =>
          a.insert(k, v) // k == size: the append edge
          ((1, pathText(l :+ Right(k)), Some(mapper.writeValueAsString(v))), root)
        } }
      if (nonRoot.nonEmpty) choices += Gen.oneOf(nonRoot).map { case (l, _) =>
        l.last match {
          case Left(m) => parentOf(root, l).asInstanceOf[ObjectNode].remove(m)
          case Right(k) => parentOf(root, l).asInstanceOf[ArrayNode].remove(k)
        }
        ((2, pathText(l), None), root)
      }
      Gen.oneOf(choices.result()).flatMap(g => g.map(Some(_)))
    }
    def parentOf(root: JsonNode, legs: Vector[Either[String, Int]]): JsonNode =
      legs.dropRight(1).foldLeft(root) {
        case (n, Left(m)) => n.get(m)
        case (n, Right(k)) => n.get(k)
      }

    def canon(node: JsonNode): String =
      JsonBinary.decode(JsonBinary.encode(mapper.writeValueAsString(node)))

    val genCase: Gen[(String, Seq[(Int, String, Option[String])], String)] = for {
      base0 <- genDoc(3)
      nSteps <- Gen.chooseNum(1, 6)
      // applying mutates the reference tree step by step; paths in each
      // diff refer to the document state at that point, like mysqld's
      // in-order vector
      result <- (1 to nSteps).foldLeft(
        Gen.const((mapper.writeValueAsString(base0),
          Vector.empty[(Int, String, Option[String])],
          base0))) { (acc, _) =>
        acc.flatMap { case (baseText, diffs, cur) =>
          genStep(cur).map {
            case Some((d, next)) => (baseText, diffs :+ d, next)
            case None => (baseText, diffs, cur)
          }
        }
      }
    } yield (result._1, result._2, canon(result._3))

    check(Prop.forAll(genCase) { case (baseText, diffs, expected) =>
      // the before image a reader holds is itself a full-value decode —
      // canonicalize the base the same way before applying
      JsonBinary.applyDiffs(canon(mapper.readTree(baseText)),
        JsonBinary.encodeDiffs(diffs)) == expected
    })
  }
}
