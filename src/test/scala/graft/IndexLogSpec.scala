package graft

import graft.ops.{Dedup, IndexLog, Similarity}
import org.apache.spark.sql.DataFrame

/** The commit log behind the IVF, semantic-dedup, near-dup and near-dup
  * cluster indexes and the multi-table fan-out's replica:
  *
  *   - the four index lifecycles (build → append → delete → compact →
  *     rebuild or gc, as far as each index has the ops) and the fan-out's
  *     (materialize, two appends of a growing file, a tail) run on a
  *     store that refuses every rename outside Spark's own
  *     `_temporary/`, and serve exactly what the same lifecycle serves
  *     on a local root;
  *   - a second writer of one version fails loud; a torn commit reads
  *     as not committed and the next writer replaces it;
  *   - every IVF op crashed before or during its commit leaves readers
  *     on exactly the last committed index, and its retry converges;
  *   - a near-dup rebuild over an existing index is atomic: a crash
  *     before its commit leaves the previous index serving.
  */
class IndexLogSpec extends SparkTestBase {
  import spark.implicits._

  /** 400 seeded 8-dim vectors, ids 0..399. */
  private lazy val emb = {
    val rnd = new scala.util.Random(11)
    (0L until 400L).map(i => (i, Array.fill(8)(rnd.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding")
  }
  /** 300 documents; documents 37 apart share their text, so every
    * batch below has near-duplicates in its corpus. */
  private lazy val docs = (0L until 300L).map { i =>
    (i, (0 until 24).map(j => s"t${(i % 37) * 3 + j % 7}x${j % 5}").mkString(" "))
  }.toDF("doc_id", "text")

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"idxlog-$tag").toString
  private def rm(dir: String): Unit =
    graft.TmpDirs.deleteRecursively(new java.io.File(dir))
  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** Every lifecycle's observable results at index root `root`. */
  private def lifecycles(root: String): Seq[Seq[String]] = {
    val ivf = s"$root/ivf"
    val queries = emb.filter($"vec_id" % 50 === 0)
    def serve() = rows(Similarity.ivfTopKFromIndex(spark, ivf, queries, k = 5, nProbe = 4))
    Similarity.buildIvfIndex(emb.filter($"vec_id" % 10 =!= 9), ivf, kClusters = 8, dim = 8)
    Similarity.appendToIvfIndex(spark, ivf, emb.filter($"vec_id" % 10 === 9))
    Similarity.deleteFromIvfIndex(spark, ivf,
      emb.filter($"vec_id" % 11 === 5).select($"vec_id"))
    val afterDelete = serve()
    Similarity.compactIvfIndex(spark, ivf)
    val afterCompact = serve()
    Similarity.rebuildIvfIndex(spark, ivf)
    val ivfOut = Seq(afterDelete, afterCompact, serve(),
      rows(Similarity.ivfCellStats(spark, ivf)))

    val sem = s"$root/sem"
    def semMembers() = rows(IndexLog.snapshot(spark, sem).frame("members")
      .select($"vec_id", $"cell".cast("long"), $"__emb"))
    Dedup.buildSemDedupIndex(emb.filter($"vec_id" % 10 =!= 0), sem,
      "embedding", "vec_id", seeds = emb.filter($"vec_id" % 25 === 0),
      seedId = "vec_id", seedEmb = "embedding")
    val appended = rows(Dedup.appendToSemDedupIndex(spark, sem,
      emb.filter($"vec_id" % 10 === 0), "embedding", "vec_id", threshold = 0.4))
    Dedup.deleteFromSemDedupIndex(spark, sem,
      emb.filter($"vec_id" % 20 === 0).select($"vec_id"), "vec_id")
    val afterSemDelete = semMembers()
    Dedup.compactSemDedupIndex(spark, sem)
    val afterSemCompact = semMembers()
    Dedup.rebuildSemDedupIndex(spark, sem)
    val semOut = Seq(appended, afterSemDelete, afterSemCompact, semMembers(),
      rows(Dedup.semDedupIndexReport(spark, sem)))

    val nd = s"$root/nd"
    val batch = docs.filter($"doc_id" % 10 === 0)
    def near() = rows(Dedup.incrementalNearDupFromIndex(spark, nd, batch, 0.5))
    Dedup.buildNearDupIndex(docs.filter($"doc_id" % 10 =!= 0), nd)
    val first = near()
    Dedup.buildNearDupIndex(docs.filter($"doc_id" % 10 =!= 0), nd, k = 12, bands = 6)
    val ndOut = Seq(first, near())

    val cl = s"$root/cl"
    def verdicts() = rows(IndexLog.snapshot(spark, cl).frame("verdicts"))
    def report() = rows(Dedup.clusterIndexArtifactReport(spark, cl))
    Dedup.buildClusterIndex(docs.filter($"doc_id" % 10 =!= 0), cl,
      threshold = 0.5, nBuckets = 8)
    Dedup.appendToClusterIndex(spark, cl, docs.filter($"doc_id" % 10 === 0))
    val clAppended = verdicts()
    Dedup.deleteFromClusterIndex(spark, cl,
      docs.filter($"doc_id" % 7 === 3).select($"doc_id"))
    val clOut = Seq(clAppended, verdicts(), report())
    Dedup.compactClusterIndexArtifacts(spark, cl)
    Dedup.gcClusterIndex(spark, cl)
    ivfOut ++ semOut ++ ndOut ++ clOut ++ Seq(verdicts(), report()) ++
      fanout(root)
  }

  /** A gcdc log of two tables, 12 transactions: its bytes and the end
    * offset of each event. */
  private lazy val fanLog: (Array[Byte], Seq[Long]) = {
    import org.apache.spark.sql.types._
    val dir = tmp("fanlog")
    val sch = StructType(Seq(StructField("k", LongType), StructField("v", StringType)))
    val schB = StructType(Seq(StructField("bk", LongType)))
    val w = new graft.cdc.CdcCodec.LogWriter(s"$dir/log.0")
    w.tableMap(1000L, 1L, "db", "t", sch)
    w.tableMap(1000L, 2L, "db", "b", schB)
    (0 until 12).foreach { g =>
      w.gtid(1000L + g, g.toLong)
      w.writeRows(1000L + g, 1L, sch, Seq(Array[Any](g.toLong, s"v$g")))
      if (g % 3 == 0) w.writeRows(1000L + g, 2L, schB, Seq(Array[Any](100L + g)))
    }
    w.close()
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(s"$dir/log.0"))
    val r = new graft.cdc.CdcCodec.EventReader(s"$dir/log.0")
    val ends = try r.map(_.endPos).toList finally r.close()
    rm(dir)
    (bytes, ends)
  }

  /** The fan-out's lifecycle with its replicas under `root`: materialize
    * the whole log; then, over a live file that grows, append two
    * increments, grow it to its full length and tail it. The log itself
    * stays on the local disk. */
  private def fanout(root: String): Seq[Seq[String]] = {
    import graft.sources.CdcFanout
    val (bytes, ends) = fanLog
    val logDir = tmp("fanlive")
    val live = java.nio.file.Paths.get(logDir, "live.0")
    val index = s"$logDir/binlog.index"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(index), s"$live\n")
    def grow(upTo: Int): Unit =
      java.nio.file.Files.write(live, java.util.Arrays.copyOfRange(bytes, 0, upTo))
    def frames(out: String): Seq[Seq[String]] =
      CdcFanout.frames(spark, out).toSeq.sortBy(_._1.toString).map(f => rows(f._2))
    val tables = Seq(("db", "t"), ("db", "b"))
    grow(bytes.length)
    CdcFanout.materializeTables(spark, index, tables, s"$root/fanmat")
    val materialized = frames(s"$root/fanmat")
    val tail = s"$root/fantail"
    grow(ends(ends.length / 3).toInt)
    CdcFanout.appendTables(spark, index, tables, tail)
    val first = frames(tail)
    grow(ends(2 * ends.length / 3).toInt)
    CdcFanout.appendTables(spark, index, tables, tail)
    val second = frames(tail)
    grow(bytes.length)
    assert(CdcFanout.tailTables(spark, index, tables, tail,
      pollIntervalMs = 10, maxIdlePolls = 1) == 1)
    val tailed = frames(tail)
    assert(tailed == materialized, "the tailed replica diverged from the materialized one")
    rm(logDir)
    materialized ++ first ++ second ++ tailed
  }

  test("IVF, semantic-dedup and near-dup lifecycles run on a store that refuses every rename outside _temporary/") {
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.nrx.impl", classOf[RenameFreeFs].getName)
    val root = tmp("nrx")
    val fs = new org.apache.hadoop.fs.Path(s"nrx://$root").getFileSystem(hc)
    assert(fs.isInstanceOf[RenameFreeFs], s"nrx resolved to $fs")
    val ex = intercept[java.io.IOException] {
      fs.rename(new org.apache.hadoop.fs.Path(s"nrx://$root"),
        new org.apache.hadoop.fs.Path(s"nrx://$root.moved"))
    }
    assert(ex.getMessage.contains("refused"))
    val local = tmp("local")
    val onLocal = lifecycles(local)
    assert(onLocal.forall(_.nonEmpty), "a lifecycle step produced nothing")
    assert(lifecycles(s"nrx://$root") == onLocal,
      "a lifecycle on the rename-free store diverged from the local run")
    Seq(root, local).foreach(rm)
  }

  test("a second writer of one version fails loud; a torn commit reads as not committed and the next writer replaces it") {
    val root = tmp("writers")
    val t1 = IndexLog.write(Seq(1L, 2L).toDF("id"), root, "t")
    val v1 = IndexLog.commit(spark, root, "w", None, Map("t" -> t1))
    val t2 = IndexLog.write(Seq(3L).toDF("id"), root, "t")
    v1.commit("w", Map("t" -> (v1.table("t") ++ t2)))
    val lost = intercept[IllegalStateException] {
      v1.commit("w", Map("t" -> (v1.table("t") ++ t2)))
    }
    assert(lost.getMessage.contains("another writer"), lost.getMessage)
    val head = IndexLog.snapshot(spark, root)
    assert(head.version == 2L)
    assert(head.frame("t").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
    // a crash while writing version 3 leaves a torn file: readers keep
    // version 2, and the next writer of version 3 replaces the file
    IndexLog.crashPoint = Some("w-mid-commit")
    try intercept[IllegalStateException] {
      head.commit("w", Map("t" -> t1))
    } finally IndexLog.crashPoint = None
    assert(new java.io.File(s"$root/_log/${"%020d".format(3L)}.json").length() > 0,
      "the failpoint left no torn commit file")
    assert(IndexLog.snapshot(spark, root).version == 2L)
    assert(IndexLog.snapshot(spark, root).frame("t").count() == 3L)
    head.commit("w", Map("t" -> t1))
    val v3 = IndexLog.snapshot(spark, root)
    assert(v3.version == 3L && v3.frame("t").count() == 2L)
    // that commit dropped t2's files: they are deleted with the older
    // commit files
    assert(IndexFsProbe.unlisted(spark, root, "t").isEmpty)
    assert(new java.io.File(s"$root/_log").list().count(_.endsWith(".json")) == 1)
    rm(root)
  }

  test("gc deletes a table a commit dropped when the op crashed right after committing, and nothing no write made") {
    val root = tmp("gc-drop")
    val v1 = IndexLog.commit(spark, root, "w", None, Map(
      "t" -> IndexLog.write(Seq(1L, 2L).toDF("id"), root, "t"),
      "u" -> IndexLog.write(Seq(3L).toDF("id"), root, "u")))
    IndexLog.crashPoint = Some("w-after-commit")
    try intercept[IllegalStateException](v1.commit("w", Map.empty, drop = Set("u")))
    finally IndexLog.crashPoint = None
    assert(new java.io.File(s"$root/u").exists(), "fixture: the crash deleted u")
    // what no write made is not the index's: a file and a foreign
    // directory beside it survive
    java.nio.file.Files.writeString(java.nio.file.Paths.get(root, "log.000001"), "x")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root, "land", "sub"))
    IndexLog.gc(spark, root)
    assert(!new java.io.File(s"$root/u").exists(), "gc left the dropped table on disk")
    assert(new java.io.File(s"$root/log.000001").exists() &&
      new java.io.File(s"$root/land/sub").exists(), "gc deleted what no write made")
    val head = IndexLog.snapshot(spark, root)
    assert(head.version == 2L && head.tables.keySet == Set("t"))
    assert(head.frame("t").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
    assert(new java.io.File(s"$root/_log").list().count(_.endsWith(".json")) == 1)
    rm(root)
  }

  test("IVF crash windows: readers serve exactly the last committed index; the retry converges") {
    val queries = emb.filter($"vec_id" % 50 === 0)
    def state(idx: String) = (
      rows(Similarity.ivfTopKFromIndex(spark, idx, queries, k = 5, nProbe = 4)),
      rows(new Similarity.IvfIndexReader(spark, idx).stored.select($"vec_id")))
    val corpus = emb.filter($"vec_id" % 10 =!= 9)
    // a FIRST build that crashes leaves no index: readers refuse loud
    val idx = tmp("ivf-crash")
    for (point <- Seq("ivfbuild-after-staging", "ivfbuild-mid-commit")) {
      IndexLog.crashPoint = Some(point)
      try intercept[IllegalStateException] {
        Similarity.buildIvfIndex(corpus, idx, kClusters = 8, dim = 8)
      } finally IndexLog.crashPoint = None
      val e = intercept[IllegalArgumentException](state(idx))
      assert(e.getMessage.contains("no committed version"), e.getMessage)
    }
    Similarity.buildIvfIndex(corpus, idx, kClusters = 8, dim = 8)
    val ref = tmp("ivf-crash-ref")
    Similarity.buildIvfIndex(corpus, ref, kClusters = 8, dim = 8)
    Seq[(String, String => Unit)](
      "ivfapp" -> (i => Similarity.appendToIvfIndex(spark, i,
        emb.filter($"vec_id" % 10 === 9))),
      "ivfdel" -> (i => Similarity.deleteFromIvfIndex(spark, i,
        emb.filter($"vec_id" % 11 === 5).select($"vec_id"))),
      "ivfcompact" -> (i => Similarity.compactIvfIndex(spark, i)),
      "ivfrebuild" -> (i => Similarity.rebuildIvfIndex(spark, i))
    ).foreach { case (tag, op) =>
      val before = state(ref)
      for (point <- Seq(s"$tag-after-staging", s"$tag-mid-commit")) {
        IndexLog.crashPoint = Some(point)
        try intercept[IllegalStateException](op(idx))
        finally IndexLog.crashPoint = None
        assert(state(idx) == before, s"$point: readers saw an uncommitted write")
      }
      op(idx); op(ref)
      assert(state(idx) == state(ref), s"$tag: the retry diverged from the no-crash run")
    }
    Seq(idx, ref).foreach(rm)
  }

  test("a near-dup rebuild over an existing index is atomic: a crash before its commit leaves the previous index serving") {
    val nd = tmp("nd-rebuild")
    val corpus = docs.filter($"doc_id" % 10 =!= 0)
    val batch = docs.filter($"doc_id" % 10 === 0)
    def near() = rows(Dedup.incrementalNearDupFromIndex(spark, nd, batch, 0.5))
    Dedup.buildNearDupIndex(corpus, nd)
    val before = near()
    val expected = rows(Dedup.incrementalNearDup(corpus, batch, "text", "doc_id",
      0.5, k = 12, bands = 6))
    for (point <- Seq("neardup-after-staging", "neardup-mid-commit")) {
      IndexLog.crashPoint = Some(point)
      try intercept[IllegalStateException] {
        Dedup.buildNearDupIndex(corpus, nd, k = 12, bands = 6)
      } finally IndexLog.crashPoint = None
      assert(near() == before, s"$point: a half-built rebuild was served")
    }
    Dedup.buildNearDupIndex(corpus, nd, k = 12, bands = 6)
    assert(near() == expected, "the retried rebuild serves other parameters' pairs")
    rm(nd)
  }
}
