package graft.tools

import org.apache.spark.sql.functions._

/** Executed-plan audit for the index-MAINTENANCE surface — the ops
  * PlanLint's query sweep never sees (append/delete/compact/gc/report
  * and the persisted-index builds/probes are imperative calls, not
  * `SparkEntry` queries; until now only ScaleSmoke's shuffle-byte pins
  * guarded their plans, and those caught three corpus-linear shuffles
  * in round 13 — after the fact).
  *
  * `runMain graft.tools.MaintPlanLint`
  *
  * A QueryExecutionListener captures EVERY executed plan while each
  * maintenance op runs against small fixtures; the plans are linted
  * per-op under PlanLint's anti-patterns (CartesianProduct, unlisted
  * BroadcastNestedLoopJoin, SinglePartition exchange over non-reduced
  * input) with this file's own justified allowlist. Exit 1 on any
  * offender outside it.
  */
object MaintPlanLint {

  /** Justified (op, pattern) allowances, counted like PlanLint.Allow.
    * Counts are RENDERED occurrences: AQE's executedPlan.toString
    * prints the initial AND final trees, so one physical stage matches
    * twice (the query-surface pins count the same way). The
    * SinglePartition hits are `repartition(1)` writes of by-contract-
    * TINY driver-side frames (1-row index meta, kClusters centroids,
    * k ~ √n quantizer seeds) — one file on purpose, so serving reads
    * one footer instead of #partitions. The BNLJ hits are the
    * JOIN-FORM cell assignment (corpus/batch × BROADCAST quantizer —
    * k rows by contract; kept for ANSI-SQL oracle replayability, the
    * production path is the probe-assign argmax which plans none). */
  private val Allow: Map[(String, String), (String, Int)] = Map(
    ("clusterBuild", "SinglePartition") ->
      ("meta/: the 1-row (threshold, shingleN, nBuckets) config frame, " +
        "one file by design", 2),
    ("ivfBuild", "SinglePartition") ->
      ("centroids/: kClusters rows by contract, written as ONE file " +
        "for the single-footer serving read", 2),
    ("ivfRebuild", "SinglePartition") ->
      ("same centroids/ single-file write as ivfBuild", 2),
    ("semBuild", "SinglePartition") ->
      ("seeds/: k ~ sqrt(n) quantizer rows by contract, one file", 2),
    ("semBuild", "BroadcastNestedLoopJoin") ->
      ("join-form cell assignment: corpus crossJoin BROADCAST quantizer " +
        "(k rows by contract); probe-assign is the large-k path", 2),
    ("semProbe", "BroadcastNestedLoopJoin") ->
      ("join-form batch assignment: batch crossJoin broadcast " +
        "quantizer, batch-bounded", 2),
    ("semAppend", "BroadcastNestedLoopJoin") ->
      ("same join-form batch assignment as semProbe (the append's " +
        "verdict probe), batch-bounded", 2),
    ("semRebuild", "SinglePartition") ->
      ("seeds/: the retrained k ~ sqrt(n) quantizer, one file like " +
        "semBuild's", 2))

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.GraftSession.build(4)
    import spark.implicits._

    val plans = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    @volatile var ctx = "?"
    spark.listenerManager.register(
      new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            durationNs: Long): Unit =
          plans.add((ctx, qe.executedPlan.toString))
        override def onFailure(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            exception: Exception): Unit = ()
      })
    // the execution-listener bus is ASYNC: drain before switching the
    // op label, or a slow event lands under the NEXT op's key
    // (LiveListenerBus.waitUntilEmpty is private[spark]; reflection —
    // the ScaleSmoke measurement-tool idiom)
    def drain(): Unit = {
      val sc = spark.sparkContext
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    }
    def in(name: String)(op: => Unit): Unit = {
      drain(); ctx = name
      op
      drain(); ctx = "?"
    }

    def doc(prefix: String, last: String): String =
      ((0 until 9).map(i => s"$prefix$i") :+ last).mkString(" ")
    import graft.ops.{Dedup, Similarity}

    // ---- cluster-index lifecycle on a 10-doc synthetic corpus
    val cidx = java.nio.file.Files.createTempDirectory("maint-clidx").toString
    val corpus = (0 until 10).map(i => (i.toLong, doc(s"c${i}x", s"t$i")))
      .toDF("doc_id", "text")
    in("clusterBuild") { Dedup.buildClusterIndex(corpus, cidx, threshold = 0.7) }
    in("clusterAppend") {
      Dedup.appendToClusterIndex(spark, cidx,
        Seq((20L, doc("c4x", "zz")), (21L, doc("q9q", "aa")))
          .toDF("doc_id", "text"))
    }
    in("clusterReport") {
      Dedup.clusterIndexArtifactReport(spark, cidx).collect(); ()
    }
    in("clusterDelete") {
      Dedup.deleteFromClusterIndex(spark, cidx, Seq(4L).toDF("doc_id"))
    }
    in("clusterCompact") { Dedup.compactClusterIndexArtifacts(spark, cidx) }
    in("clusterGc") { Dedup.gcClusterIndex(spark, cidx) }

    // ---- IVF lifecycle on the sf0.001 embeddings
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val iidx = java.nio.file.Files.createTempDirectory("maint-ivf").toString
    in("ivfBuild") {
      Similarity.buildIvfIndex(emb.filter($"vec_id" % 7 =!= 0), iidx,
        kClusters = 8)
    }
    in("ivfAppend") {
      Similarity.appendToIvfIndex(spark, iidx,
        emb.filter($"vec_id" % 7 === 0))
    }
    in("ivfDelete") {
      Similarity.deleteFromIvfIndex(spark, iidx,
        emb.filter($"vec_id" % 11 === 5).select($"vec_id"))
    }
    in("ivfCompact") { Similarity.compactIvfIndex(spark, iidx) }
    in("ivfRebuild") { Similarity.rebuildIvfIndex(spark, iidx) }

    // ---- persisted semantic-dedup index + probes + streaming gate's
    // per-batch verdict plan
    val sidx = java.nio.file.Files.createTempDirectory("maint-semidx").toString
    in("semBuild") {
      Dedup.buildSemDedupIndex(emb.filter($"vec_id" % 10 =!= 0), sidx,
        "embedding", "vec_id", seeds = emb.filter($"vec_id" % 25 === 0),
        seedId = "vec_id", seedEmb = "embedding")
    }
    in("semProbe") {
      Dedup.semDedupFromIndex(spark, sidx,
        emb.filter($"vec_id" % 10 === 0), "embedding", "vec_id",
        threshold = 0.4).collect(); ()
    }
    in("gateBatch") {
      graft.streaming.StreamOps.semDedupGateBatch(spark, sidx,
        emb.filter($"vec_id" % 100 === 0), "embedding", "vec_id",
        threshold = 0.4).collect(); ()
    }
    in("semAppend") {
      Dedup.appendToSemDedupIndex(spark, sidx,
        emb.filter($"vec_id" % 10 === 0), "embedding", "vec_id",
        threshold = 0.4).collect(); ()
    }
    in("semDelete") {
      Dedup.deleteFromSemDedupIndex(spark, sidx,
        emb.filter($"vec_id" % 10 === 0).select($"vec_id"), "vec_id")
    }
    in("semReport") {
      Dedup.semDedupIndexReport(spark, sidx).collect(); ()
    }
    in("semCompact") { Dedup.compactSemDedupIndex(spark, sidx) }
    in("semRebuild") { Dedup.rebuildSemDedupIndex(spark, sidx) }

    // ---- the multi-table fan-out (one log decode -> N frames): the
    // one write and both pruned frame reads are executed plans
    val froot = java.nio.file.Files.createTempDirectory("maint-fanout").toString
    in("fanout") {
      graft.sources.CdcFanout.materializeTables(spark,
        graft.cdc.CdcFixture.ensure(spark, sfDir),
        Seq(("graft", "orders"), ("graft", "audit")), froot)
        .values.foreach(_.count()); ()
    }

    // ---- the incremental fan-out: two increments (subset index, full
    // index) so the resume path's plans are captured too
    val firoot = java.nio.file.Files.createTempDirectory("maint-fanincr").toString
    in("fanoutIncr") {
      val index = graft.cdc.CdcFixture.ensure(spark, sfDir)
      val files = graft.cdc.CdcCodec.readIndex(index)
      val idx1 = s"$firoot/binlog1.index"
      java.nio.file.Files.writeString(java.nio.file.Paths.get(idx1),
        files.take(math.max(files.length / 2, 1)).mkString("", "\n", "\n"))
      val tabs = Seq(("graft", "orders"), ("graft", "audit"))
      graft.sources.CdcFanout.appendTables(spark, idx1, tabs, s"$firoot/out")
      graft.sources.CdcFanout.appendTables(spark, index, tabs, s"$firoot/out")
      ()
    }

    // ---- lint: all captured plans of an op joined under one key, so
    // per-op occurrence counts are stable across job-count changes
    drain()
    val byOp = scala.jdk.CollectionConverters.IteratorHasAsScala(
      plans.iterator()).asScala.toSeq
      .filter(_._1 != "?")
      .groupBy(_._1).view.mapValues(_.map(_._2).mkString("\n===\n")).toMap
    var bad = 0
    byOp.keys.toSeq.sorted.foreach { op =>
      bad += PlanLint.lintPlan(op, byOp(op), Allow)
    }
    println(s"maint-plan-lint: ${byOp.size} ops, " +
      s"${byOp.values.map(_.split("\n===\n").length).sum} executed plans, " +
      s"$bad offenders")
    Seq(cidx, iidx, sidx, froot, firoot).foreach(d =>
      graft.TmpDirs.deleteRecursively(new java.io.File(d)))
    spark.stop()
    if (bad > 0) sys.exit(1)
  }
}
