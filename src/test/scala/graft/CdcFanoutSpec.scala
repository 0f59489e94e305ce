package graft

/** Multi-table shared-scan replication (CdcFanout): N tables from ONE
  * decode pass over the log, committed as one `IndexLog` index.
  *
  *   - frame parity: each per-table frame is row- and schema-identical
  *     to the per-table `binlogcdc` scan (so a catalog user can swap
  *     scans for frames verbatim), and reads only its own `__tbl` cell
  *     and its own struct column;
  *   - the one-decode contract: materializing THREE tables walks each
  *     log file exactly once (the per-file decode counter — the whole
  *     point of the op; N per-table scans would count 3× the files);
  *   - a fold is one commit: a crash anywhere in it leaves every table
  *     on the previous fold, and the retry converges;
  *   - unknown tables, a changed table set and an append over a
  *     materialized root refuse loud.
  */
class CdcFanoutSpec extends SparkTestBase {
  import graft.sources.CdcFanout

  private val sfDir = "/root/testdata/sf0.001"

  private def scanRows(index: String, tbl: String): Seq[String] =
    spark.read.format("binlogcdc")
      .option("indexFile", index)
      .option("database", "graft").option("table", tbl).load()
      .collect().map(_.toString).sorted.toSeq

  private def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** An index over the fixture's first two log files, at `$root/binlog1.index`. */
  private def firstTwoFiles(root: String, files: Seq[String]): String = {
    val idx1 = s"$root/binlog1.index"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(idx1),
      files.take(2).mkString("", "\n", "\n"))
    idx1
  }

  /** A one-file log at `$dir/log.0`: tables db.t (k, v) with rows
    * k = 0..7 and db.b (bk) with rows 100, 102, 104, 106, one GTID
    * group per k. Returns its bytes and every event's end offset. */
  private def twoTableLog(dir: String): (Array[Byte], List[Long]) = {
    import org.apache.spark.sql.types._
    val sch = StructType(Seq(StructField("k", LongType),
      StructField("v", StringType)))
    val schB = StructType(Seq(StructField("bk", LongType)))
    val full = s"$dir/log.0"
    val w = new graft.cdc.CdcCodec.LogWriter(full)
    w.tableMap(1000L, 1L, "db", "t", sch)
    w.tableMap(1000L, 2L, "db", "b", schB)
    (0 until 8).foreach { g =>
      w.gtid(1000L + g, g.toLong)
      w.writeRows(1000L + g, 1L, sch, Seq(Array[Any](g.toLong, s"v$g")))
      if (g % 2 == 0)
        w.writeRows(1000L + g, 2L, schB, Seq(Array[Any](100L + g)))
    }
    w.close()
    val r = new graft.cdc.CdcCodec.EventReader(full)
    val ends = try r.map(_.endPos).toList finally r.close()
    (java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(full)), ends)
  }

  test("fan-out frames equal the per-table scans; three tables decode the log ONCE") {
    val index = graft.cdc.CdcFixture.ensure(spark, sfDir)
    val nFiles = graft.cdc.CdcCodec.readIndex(index).length
    assert(nFiles > 1, "fixture should rotate files for a meaningful pin")
    val root = java.nio.file.Files.createTempDirectory("cdcfanout-spec").toString
    val before = CdcFanout.filesDecoded.get()
    val out = CdcFanout.materializeTables(spark, index,
      Seq(("graft", "orders"), ("graft", "audit"), ("graft", "notes")), root)
    val decoded = CdcFanout.filesDecoded.get() - before
    assert(decoded == nFiles,
      s"expected ONE decode pass over $nFiles files for 3 tables, counted $decoded")
    Seq("orders", "audit", "notes").foreach { tbl =>
      val scan = spark.read.format("binlogcdc")
        .option("indexFile", index)
        .option("database", "graft").option("table", tbl).load()
      val mat = out(("graft", tbl))
      assert(mat.columns.toSeq == scan.columns.toSeq,
        s"$tbl: column order diverges: ${mat.columns.toSeq} vs ${scan.columns.toSeq}")
      assert(mat.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
        scan.schema.fields.map(f => (f.name, f.dataType)).toSeq, s"$tbl: types diverge")
      val a = scan.collect().map(_.toString).sorted.toSeq
      val b = mat.collect().map(_.toString).sorted.toSeq
      assert(a.nonEmpty, s"$tbl: empty scan — fixture broken")
      assert(a == b, s"$tbl rows diverge (scan=${a.length}, fanout=${b.length})")
    }
    graft.TmpDirs.deleteRecursively(new java.io.File(root))
  }

  test("per-table extraction is partition-pruned to the table's own directory") {
    val index = graft.cdc.CdcFixture.ensure(spark, sfDir)
    val root = java.nio.file.Files.createTempDirectory("cdcfanout-prune").toString
    CdcFanout.materializeTables(spark, index,
      Seq(("graft", "orders"), ("graft", "audit")), root)
    // a table's frame selects only its own __tbl cell of the rows table
    val audit = CdcFanout.frames(spark, root)(("graft", "audit"))
    val scans = org.apache.spark.sql.graftbridge.Bridge.fileScanSelections(audit)
    val rowsScan = scans.find(_._1.endsWith("/rows"))
    assert(rowsScan.isDefined, s"no rows-table scan found in $scans")
    assert(rowsScan.get._2 == 1,
      s"expected 1 selected __tbl partition, got ${rowsScan.get._2}")
    val auditFiles = graft.ops.IndexLog.snapshot(spark, root).table("rows").files
      .count(_.cell.contains("graft.audit"))
    assert(auditFiles > 0 && rowsScan.get._3 == auditFiles,
      s"expected the $auditFiles audit files, scanned ${rowsScan.get._3}")
    graft.TmpDirs.deleteRecursively(new java.io.File(root))
  }

  test("per-table extraction column-prunes the OTHER tables' structs") {
    val index = graft.cdc.CdcFixture.ensure(spark, sfDir)
    val root = java.nio.file.Files.createTempDirectory("cdcfanout-colprune").toString
    CdcFanout.materializeTables(spark, index,
      Seq(("graft", "orders"), ("graft", "audit")), root)
    // audit is slot 1: its frame must never read orders' __t0 column
    val audit = CdcFanout.frames(spark, root)(("graft", "audit"))
    val plan = audit.queryExecution.executedPlan.toString
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema"))
      .getOrElse(fail(s"no ReadSchema in:\n$plan"))
    assert(readSchema.contains("__t1") && !readSchema.contains("__t0"),
      s"extraction reads the other table's struct: $readSchema")
    graft.TmpDirs.deleteRecursively(new java.io.File(root))
  }

  test("mysql wire format: fan-out frames equal the per-table scans") {
    val index = graft.cdc.CdcFixture.ensureMysql(spark, sfDir)
    val root = java.nio.file.Files.createTempDirectory("cdcfanout-mysql").toString
    val out = CdcFanout.materializeTables(spark, index,
      Seq(("graft", "orders"), ("graft", "audit")), root, format = "mysql")
    Seq("orders", "audit").foreach { tbl =>
      val scan = spark.read.format("binlogcdc")
        .option("indexFile", index).option("binlogFormat", "mysql")
        .option("database", "graft").option("table", tbl).load()
      val a = scan.collect().map(_.toString).sorted.toSeq
      val b = rowsOf(out(("graft", tbl)))
      assert(a.nonEmpty && a == b, s"$tbl diverges on the mysql format")
    }
    graft.TmpDirs.deleteRecursively(new java.io.File(root))
  }

  test("incremental appendTables: new files only, no-op when nothing grew, equals the per-table scans") {
    val index = graft.cdc.CdcFixture.ensure(spark, sfDir)
    val files = graft.cdc.CdcCodec.readIndex(index)
    assert(files.length >= 3, s"fixture too small: ${files.length} files")
    val root = java.nio.file.Files.createTempDirectory("cdcfanout-incr").toString
    val tables = Seq(("graft", "orders"), ("graft", "audit"))
    // increment 1: an index listing only the first two files
    CdcFanout.appendTables(spark, firstTwoFiles(root, files), tables, root)
    // increment 2: the full index — only the NEW files are walked
    val before = CdcFanout.filesDecoded.get()
    CdcFanout.appendTables(spark, index, tables, root)
    val walked = CdcFanout.filesDecoded.get() - before
    assert(walked == files.length - 2,
      s"expected ${files.length - 2} new files walked, counted $walked")
    // increment 3: nothing grew — zero walks, no commit, frames untouched
    val b2 = CdcFanout.filesDecoded.get()
    val v2 = graft.ops.IndexLog.snapshot(spark, root).version
    val out = CdcFanout.appendTables(spark, index, tables, root)
    assert(CdcFanout.filesDecoded.get() == b2,
      "a no-growth increment must not walk any file")
    assert(graft.ops.IndexLog.snapshot(spark, root).version == v2,
      "a no-growth increment must not commit")
    Seq("orders", "audit").foreach { tbl =>
      val a = scanRows(index, tbl)
      val b = rowsOf(out(("graft", tbl)))
      assert(a.nonEmpty && a == b,
        s"$tbl incremental frames diverge (scan=${a.length}, incr=${b.length})")
    }
    // a different table set refuses loud
    val e = intercept[IllegalArgumentException] {
      CdcFanout.appendTables(spark, index,
        Seq(("graft", "orders"), ("graft", "notes")), root)
    }
    assert(e.getMessage.contains("table set changed"), e.getMessage)
    graft.TmpDirs.deleteRecursively(new java.io.File(root))
  }

  test("incremental appendTables: a GROWING tail file resumes from its consumed prefix") {
    val dir = java.nio.file.Files.createTempDirectory("cdcfanout-grow").toString
    val (bytes, ends) = twoTableLog(dir)
    // cut at the event boundary halfway through the event stream
    val cut = ends(ends.length / 2).toInt
    val live = s"$dir/live.0"
    val index = s"$dir/binlog.index"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(index), s"$live\n")
    java.nio.file.Files.write(java.nio.file.Paths.get(live),
      java.util.Arrays.copyOfRange(bytes, 0, cut))
    val root = java.nio.file.Files.createTempDirectory("cdcfanout-grow-out").toString
    val tables = Seq(("db", "t"), ("db", "b"))
    val first = CdcFanout.appendTables(spark, index, tables, root)
    val n1 = first(("db", "t")).count()
    assert(n1 > 0 && n1 < 8, s"prefix increment should hold a strict subset, got $n1")
    // the file GROWS to its full content; the increment resumes mid-file
    java.nio.file.Files.write(java.nio.file.Paths.get(live), bytes)
    val out = CdcFanout.appendTables(spark, index, tables, root)
    val t = out(("db", "t"))
      .select("k", "v", "__op", "__gtid").collect()
      .map(_.toString).sorted.toSeq
    assert(t == (0 until 8).map(g => s"[$g,v$g,1,$g]").sorted,
      s"grown-tail resume diverges: $t")
    // the first call's frames keep reading the snapshot they came from
    assert(first(("db", "t")).count() == n1)
    val b = out(("db", "b")).select("bk").collect()
      .map(_.getLong(0)).sorted.toSeq
    assert(b == Seq(100L, 102L, 104L, 106L))
    Seq(dir, root).foreach(d =>
      graft.TmpDirs.deleteRecursively(new java.io.File(d)))
  }

  test("a long tail keeps _log at two commit files: each fold deletes the commits below its base") {
    val dir = java.nio.file.Files.createTempDirectory("cdcfanout-log").toString
    val (bytes, ends) = twoTableLog(dir)
    val live = java.nio.file.Paths.get(s"$dir/live.0")
    val index = s"$dir/binlog.index"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(index), s"$live\n")
    val root = java.nio.file.Files.createTempDirectory("cdcfanout-log-out").toString
    val tables = Seq(("db", "t"), ("db", "b"))
    def commits = new java.io.File(s"$root/_log").list().count(_.endsWith(".json"))
    // one fold per two events grown: a dozen folds over one growing file
    val cuts = ends.drop(2).grouped(2).map(_.last).toSeq
    assert(cuts.length >= 8, s"fixture: only ${cuts.length} folds")
    cuts.zipWithIndex.foreach { case (cut, i) =>
      java.nio.file.Files.write(live, java.util.Arrays.copyOfRange(bytes, 0, cut.toInt))
      CdcFanout.appendTables(spark, index, tables, root)
      assert(graft.ops.IndexLog.snapshot(spark, root).version == i + 1)
      assert(commits == math.min(i + 1, 2), s"fold ${i + 1} left $commits commit files")
    }
    val t = CdcFanout.frames(spark, root)(("db", "t"))
      .select("k", "v").collect().map(_.toString).sorted.toSeq
    assert(t == (0 until 8).map(g => s"[$g,v$g]").sorted, s"folded frame diverges: $t")
    Seq(dir, root).foreach(d =>
      graft.TmpDirs.deleteRecursively(new java.io.File(d)))
  }

  test("tailTables daemon: folds mid-run growth, idles out, restart applies nothing") {
    val dir = java.nio.file.Files.createTempDirectory("cdcfanout-tail").toString
    val (bytes, ends) = twoTableLog(dir)
    val cut = ends(ends.length / 2).toInt
    val live = s"$dir/live.0"
    val index = s"$dir/binlog.index"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(index), s"$live\n")
    java.nio.file.Files.write(java.nio.file.Paths.get(live),
      java.util.Arrays.copyOfRange(bytes, 0, cut))
    val root = java.nio.file.Files.createTempDirectory("cdcfanout-tail-out").toString
    val tables = Seq(("db", "t"), ("db", "b"))
    @volatile var applied = -1
    val daemon = new Thread(() => {
      applied = CdcFanout.tailTables(spark, index, tables,
        root, pollIntervalMs = 100, maxIdlePolls = 25)
    })
    daemon.start()
    // grow the log only AFTER the first increment commits, so the
    // daemon deterministically applies exactly two increments
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    def committed = graft.ops.IndexLog.head(spark, root).isDefined
    while (!committed && System.nanoTime() < deadline) Thread.sleep(50)
    assert(committed, "daemon never committed the first increment")
    // grow ATOMICALLY (temp + rename): a truncating in-place write
    // races the daemon's concurrent poll into observing a file shorter
    // than its committed offset
    val grown = java.nio.file.Paths.get(s"$dir/live.0.grown")
    java.nio.file.Files.write(grown, bytes)
    java.nio.file.Files.move(grown, java.nio.file.Paths.get(live),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    daemon.join(120000)
    assert(!daemon.isAlive, "daemon did not idle out")
    assert(applied == 2, s"expected 2 applied increments, got $applied")
    val t = CdcFanout.frames(spark, root)(("db", "t"))
      .select("k", "v", "__op", "__gtid").collect()
      .map(_.toString).sorted.toSeq
    assert(t == (0 until 8).map(g => s"[$g,v$g,1,$g]").sorted,
      s"daemon-tailed frame diverges: $t")
    // a restarted daemon over the unchanged log applies nothing
    assert(CdcFanout.tailTables(spark, index, tables, root,
      pollIntervalMs = 10, maxIdlePolls = 2) == 0)
    Seq(dir, root).foreach(d =>
      graft.TmpDirs.deleteRecursively(new java.io.File(d)))
  }

  test("incremental appendTables: crash at every failpoint, then retry converges without duplicates") {
    val index = graft.cdc.CdcFixture.ensure(spark, sfDir)
    val files = graft.cdc.CdcCodec.readIndex(index)
    val tables = Seq(("graft", "orders"), ("graft", "audit"))
    val expected = Seq("orders", "audit").map(tbl => tbl -> scanRows(index, tbl)).toMap
    Seq("fanout-after-staging", "fanout-mid-commit",
        "fanout-after-commit").foreach { pt =>
      val root = java.nio.file.Files
        .createTempDirectory(s"cdcfanout-crash").toString
      CdcFanout.appendTables(spark, firstTwoFiles(root, files), tables, root)
      graft.ops.IndexLog.crashPoint = Some(pt)
      try {
        val e = intercept[IllegalStateException] {
          CdcFanout.appendTables(spark, index, tables, root)
        }
        assert(e.getMessage.contains(pt))
      } finally graft.ops.IndexLog.crashPoint = None
      // retry redoes the increment idempotently
      val out = CdcFanout.appendTables(spark, index, tables, root)
      Seq("orders", "audit").foreach { tbl =>
        val got = rowsOf(out(("graft", tbl)))
        assert(got == expected(tbl),
          s"$pt: $tbl diverged after crash+retry " +
            s"(got=${got.length}, want=${expected(tbl).length})")
      }
      graft.TmpDirs.deleteRecursively(new java.io.File(root))
    }
  }

  test("snapshot-consistent replica reads: a two-table fold crashed mid-commit leaves readers on the pre-fold rows of both tables") {
    val index = graft.cdc.CdcFixture.ensure(spark, sfDir)
    val files = graft.cdc.CdcCodec.readIndex(index)
    val tables = Seq(("graft", "orders"), ("graft", "audit"))
    val root = java.nio.file.Files.createTempDirectory("cdcfanout-snap").toString
    val first = CdcFanout.appendTables(spark, firstTwoFiles(root, files), tables, root)
    val pre = tables.map(t => t -> rowsOf(first(t))).toMap
    assert(pre.values.forall(_.nonEmpty), "fixture: a table has no pre-fold rows")
    graft.ops.IndexLog.crashPoint = Some("fanout-mid-commit")
    try intercept[IllegalStateException] {
      CdcFanout.appendTables(spark, index, tables, root)
    } finally graft.ops.IndexLog.crashPoint = None
    // every table of a fresh read is still exactly the pre-fold replica
    val during = CdcFanout.frames(spark, root)
    tables.foreach { t =>
      assert(rowsOf(during(t)) == pre(t), s"$t: a reader saw part of a crashed fold")
    }
    val out = CdcFanout.appendTables(spark, index, tables, root)
    tables.foreach { case t @ (_, tbl) =>
      assert(rowsOf(out(t)) == scanRows(index, tbl), s"$t: the retry diverged")
    }
    graft.TmpDirs.deleteRecursively(new java.io.File(root))
  }

  test("appendTables over a materialized root refuses loud and duplicates no row") {
    val index = graft.cdc.CdcFixture.ensure(spark, sfDir)
    val tables = Seq(("graft", "orders"), ("graft", "audit"))
    val root = java.nio.file.Files.createTempDirectory("cdcfanout-matapp").toString
    CdcFanout.materializeTables(spark, index, tables, root)
    val e = intercept[IllegalArgumentException] {
      CdcFanout.appendTables(spark, index, tables, root)
    }
    assert(e.getMessage.contains("materializeTables"), e.getMessage)
    val out = CdcFanout.frames(spark, root)
    tables.foreach { case t @ (_, tbl) =>
      assert(rowsOf(out(t)) == scanRows(index, tbl), s"$t: rows changed")
    }
    graft.TmpDirs.deleteRecursively(new java.io.File(root))
  }

  test("unknown table refuses loud at planning") {
    val index = graft.cdc.CdcFixture.ensure(spark, sfDir)
    val root = java.nio.file.Files.createTempDirectory("cdcfanout-bad").toString
    val e = intercept[IllegalArgumentException] {
      CdcFanout.materializeTables(spark, index,
        Seq(("graft", "no_such_table")), root)
    }
    assert(e.getMessage.contains("no TABLE_MAP"), e.getMessage)
    graft.TmpDirs.deleteRecursively(new java.io.File(root))
  }
}
