package graft

import graft.ops.{Dedup, IndexLog}
import graft.streaming.StreamOps
import org.apache.spark.sql.functions._

/** Round-15 hardening of the persisted semantic-dedup index and its
  * streaming admission gate:
  *
  *   - the gate's micro-batches PRUNE the members scan to the batch's
  *     touched cells (the llm82 pruning contract, streaming twin) —
  *     never the corpus;
  *   - gate verdicts equal the brute-force definition (index-authority
  *     semantics: dup iff a same-cell member clears the threshold);
  *   - quantizer collects are capped loud by spark.graft.semdedup
  *     .maxSeeds (gate and probe-assign batch path both);
  *   - an index whose seeds were persisted as array<double> refuses
  *     loud (not an opaque ClassCastException);
  *   - build→probe crash windows: a buildSemDedupIndex crash over a
  *     live index leaves probes and gate serving exactly the last
  *     committed index, a crashed FIRST build leaves an index every
  *     reader refuses loud, and a retried build converges to the
  *     two-frame incremental's verdicts.
  */
class SemDedupGateSpec extends SparkTestBase {
  import spark.implicits._
  import scala.jdk.CollectionConverters._

  private val sfDir = "/root/testdata/sf0.001"
  private def emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
  private def corpus = emb.filter($"vec_id" % 10 =!= 0)
  private def seeds = emb.filter($"vec_id" % 25 === 0)

  private def buildIdx(root: String): Unit =
    Dedup.buildSemDedupIndex(corpus, root, "embedding", "vec_id",
      seeds = seeds, seedId = "vec_id", seedEmb = "embedding")

  private def cos(a: Seq[Float], b: Seq[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < math.min(a.length, b.length)) {
      dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
      nb += b(i).toDouble * b(i); i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  test("streaming gate: a micro-batch touching c cells reads only c member cell dirs; verdicts match brute force") {
    val idx = java.nio.file.Files.createTempDirectory("semgate-prune").toString
    buildIdx(idx)
    val arriving = StreamOps.embeddingsStream(spark, sfDir)
      .filter($"vec_id" % 100 === 0)
    val buf = new java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.sql.Row]()
    @volatile var scans: Seq[(String, Int, Long)] = Nil
    val q = StreamOps.semDedupGateStream(spark, idx, arriving,
      "embedding", "vec_id", threshold = 0.40,
      sink = (out, _) => {
        scans = org.apache.spark.sql.graftbridge.Bridge.fileScanSelections(out)
        out.collect().foreach(buf.add)
      })
    try q.processAllAvailable() finally q.stop()
    val verdicts = buf.asScala.map(r =>
      (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(verdicts.nonEmpty, "gate produced no verdicts")
    // file pruning: every members scan in the micro-batch plan selected
    // exactly the touched cell partitions, strictly fewer than the index has
    val cCells = verdicts.map(_._2).size
    val totalCells = graft.ops.IndexLog.snapshot(spark, idx).frame("members")
      .select("cell").distinct().count()
    val memberScans = scans.filter(_._1.contains("members"))
    assert(memberScans.nonEmpty, s"no members scan found in $scans")
    memberScans.foreach { case (p, parts, _) =>
      assert(parts == cCells,
        s"members scan $p selected $parts partitions, batch touches $cCells cells")
    }
    assert(cCells < totalCells,
      s"test not meaningful: batch touches all $totalCells cells")
    // brute-force reference: argmax-cosine cell (ties -> lower seed id),
    // dup iff ANY same-cell corpus member clears the threshold
    val sd = seeds.select($"vec_id", $"embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1))).sortBy(_._1)
    def cellOf(v: Seq[Float]): Long =
      sd.map { case (sid, se) => (cos(v, se), sid) }
        .maxBy { case (c, sid) => (c, -sid) }._2
    val members = corpus.select($"vec_id", $"embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
      .map { case (i, v) => (cellOf(v), v, i) }
    val batch = emb.filter($"vec_id" % 100 === 0)
      .select($"vec_id", $"embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    val expected = batch.map { case (i, v) =>
      val c = cellOf(v)
      val dup = members.exists { case (mc, mv, _) =>
        mc == c && cos(v, mv) >= 0.40 }
      (i, c, dup)
    }.toSet
    assert(verdicts == expected)
    graft.TmpDirs.deleteRecursively(new java.io.File(idx))
  }

  test("gate verdicts are micro-batch-slicing INVARIANT (4 one-file triggers == one batch)") {
    val idx = java.nio.file.Files.createTempDirectory("semgate-slice").toString
    buildIdx(idx)
    val arrDir = java.nio.file.Files.createTempDirectory("semgate-arriving").toString
    emb.filter($"vec_id" % 10 === 0).repartition(4)
      .write.mode("overwrite").parquet(arrDir)
    val arriving = spark.readStream
      .schema(emb.schema).option("maxFilesPerTrigger", "1").parquet(arrDir)
    val buf = new java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.sql.Row]()
    val batches = new java.util.concurrent.atomic.AtomicInteger
    val q = StreamOps.semDedupGateStream(spark, idx, arriving,
      "embedding", "vec_id", threshold = 0.40,
      sink = (out, _) => { batches.incrementAndGet(); out.collect().foreach(buf.add) })
    try q.processAllAvailable() finally q.stop()
    assert(batches.get() >= 4, s"expected >= 4 micro-batches, got ${batches.get()}")
    val streamed = buf.asScala.map(_.toString).toSeq.sorted
    val oneShot = StreamOps.semDedupGateBatch(spark, idx,
      emb.filter($"vec_id" % 10 === 0), "embedding", "vec_id", 0.40)
      .collect().map(_.toString).toSeq.sorted
    assert(streamed == oneShot,
      s"slicing changed verdicts (streamed=${streamed.length}, batch=${oneShot.length})")
    Seq(idx, arrDir).foreach(d =>
      graft.TmpDirs.deleteRecursively(new java.io.File(d)))
  }

  test("streaming gate beside a crashed append scores each micro-batch against the last committed members") {
    // the append lands its batch and dies writing its commit record (a
    // filesystem that cuts that write); a gate started before the crash
    // must keep serving the pre-append members, as semDedupGateBatch does
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.ccx.impl", classOf[CommitCutFs].getName)
    val local = java.nio.file.Files.createTempDirectory("semgate-cut").toString
    val idx = s"ccx://$local"
    buildIdx(idx)
    val appended = emb.filter($"vec_id" % 10 === 0)
    // exact copies of the appended vectors under fresh ids: dups at this
    // threshold only where the append's members are visible
    val copies = appended.select(($"vec_id" + 90000000L).as("vec_id"), $"embedding")
    val T = 0.999
    val before = StreamOps.semDedupGateBatch(spark, idx, copies, "embedding",
      "vec_id", T).collect().map(_.toString).sorted.toSeq
    assert(before.count(_.endsWith("false]")) > before.length / 2,
      "fixture: the copies must mostly be fresh before the append")
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Array[Float])]
    val buf = new java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.sql.Row]()
    val q = StreamOps.semDedupGateStream(spark, idx,
      in.toDF().toDF("vec_id", "embedding"), "embedding", "vec_id", T,
      sink = (out, _) => out.collect().foreach(buf.add))
    try {
      CommitCutFs.armed = true
      try intercept[Exception] {
        Dedup.appendToSemDedupIndex(spark, idx, appended, "embedding",
          "vec_id", threshold = 0.4)
      } finally CommitCutFs.armed = false
      in.addData(copies.collect().map(r =>
        (r.getLong(0), r.getSeq[Float](1).toArray)).toIndexedSeq)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = buf.asScala.map(_.toString).toSeq.sorted
    assert(streamed == before,
      s"the gate scored against an uncommitted append: " +
        s"${streamed.count(_.endsWith("true]"))} dups vs ${before.count(_.endsWith("true]"))} before")
    graft.TmpDirs.deleteRecursively(new java.io.File(local))
  }

  test("gate and probe-assign quantizer collects are capped by spark.graft.semdedup.maxSeeds") {
    val idx = java.nio.file.Files.createTempDirectory("semgate-cap").toString
    buildIdx(idx)
    withSQLConf("spark.graft.semdedup.maxSeeds" -> "3") {
      val e = intercept[IllegalArgumentException] {
        StreamOps.semDedupGateBatch(spark, idx,
          emb.filter($"vec_id" % 100 === 0), "embedding", "vec_id", 0.40)
      }
      assert(e.getMessage.contains("spark.graft.semdedup.maxSeeds"), e.getMessage)
      val e2 = intercept[IllegalArgumentException] {
        Dedup.semDedup(emb, "embedding", "vec_id", seeds,
          "vec_id", "embedding", threshold = 0.4, probeAssign = true)
      }
      assert(e2.getMessage.contains("spark.graft.semdedup.maxSeeds"), e2.getMessage)
    }
    // and the knob is a knob: the default admits the fixture quantizer
    val ok = StreamOps.semDedupGateBatch(spark, idx,
      emb.filter($"vec_id" % 100 === 0), "embedding", "vec_id", 0.40)
    assert(ok.count() > 0)
    graft.TmpDirs.deleteRecursively(new java.io.File(idx))
  }

  test("an index with array<double> seeds refuses loud (schema guard, not a CCE)") {
    val idx = java.nio.file.Files.createTempDirectory("semgate-dbl").toString
    // a hand-built index: array<double> seeds committed beside members
    import graft.ops.IndexLog
    IndexLog.commit(spark, idx, "test", None, Map(
      "seeds" -> IndexLog.write(Seq((0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0)))
        .toDF("seed_id", "s_emb"), idx, "seeds"),
      "members" -> IndexLog.write(Seq((2L, 0L, Seq(1.0f, 0.0f)))
        .toDF("vec_id", "cell", "__emb"), idx, "members", Some("cell"))))
    val batch = Seq((100L, Seq(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      StreamOps.semDedupGateBatch(spark, idx, batch, "embedding", "vec_id", 0.4)
    }
    assert(e.getMessage.contains("array<float>"), e.getMessage)
    graft.TmpDirs.deleteRecursively(new java.io.File(idx))
  }

  test("build crash windows: probes and gate refuse loud; retried build converges") {
    val idx = java.nio.file.Files.createTempDirectory("semgate-crash").toString
    buildIdx(idx) // a LIVE index that the crashed rebuild must not corrupt
    val batch = emb.filter($"vec_id" % 10 === 0)
    val newSeeds = emb.filter($"vec_id" % 20 === 0) // rebuild changes the quantizer
    def rebuild(): Unit = Dedup.buildSemDedupIndex(corpus, idx,
      "embedding", "vec_id", newSeeds, "vec_id", "embedding")
    def sorted(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    Seq("semdedup-after-seeds", "semdedup-after-staging",
        "semdedup-mid-commit").foreach { pt =>
      val probed = sorted(Dedup.semDedupFromIndex(spark, idx, batch,
        "embedding", "vec_id", 0.4))
      val gated = sorted(StreamOps.semDedupGateBatch(spark, idx, batch,
        "embedding", "vec_id", 0.4))
      IndexLog.crashPoint = Some(pt)
      try {
        val e = intercept[IllegalStateException](rebuild())
        assert(e.getMessage.contains(pt))
      } finally IndexLog.crashPoint = None
      // the half-rebuilt index is invisible: probe and gate serve
      // exactly the last committed index
      assert(sorted(Dedup.semDedupFromIndex(spark, idx, batch,
        "embedding", "vec_id", 0.4)) == probed, s"$pt: probe changed")
      assert(sorted(StreamOps.semDedupGateBatch(spark, idx, batch,
        "embedding", "vec_id", 0.4)) == gated, s"$pt: gate changed")
      // retry converges to the two-frame incremental's verdicts
      rebuild()
      val fromIdx = Dedup.semDedupFromIndex(spark, idx, batch,
        "embedding", "vec_id", 0.4).collect().map(_.toString).sorted.toSeq
      val twoFrame = Dedup.semDedupIncremental(corpus, batch,
        "embedding", "vec_id", newSeeds, "vec_id", "embedding", 0.4)
        .collect().map(_.toString).sorted.toSeq
      assert(fromIdx == twoFrame)
    }
    // a FIRST build that crashed (nothing committed, a torn commit file
    // on disk) is visibly un-built: probe and gate refuse loud
    val fresh = java.nio.file.Files.createTempDirectory("semgate-crash-first").toString
    IndexLog.crashPoint = Some("semdedup-mid-commit")
    try intercept[IllegalStateException](buildIdx(fresh))
    finally IndexLog.crashPoint = None
    val p = intercept[IllegalArgumentException] {
      Dedup.semDedupFromIndex(spark, fresh, batch, "embedding", "vec_id", 0.4)
    }
    assert(p.getMessage.contains("no committed version"), p.getMessage)
    intercept[IllegalArgumentException] {
      StreamOps.semDedupGateBatch(spark, fresh, batch, "embedding", "vec_id", 0.4)
    }
    Seq(idx, fresh).foreach(d => graft.TmpDirs.deleteRecursively(new java.io.File(d)))
  }
}
