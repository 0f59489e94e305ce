package graft

import graft.streaming.StreamOps
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, TimeMode}

/** Streaming state AGING: the unbounded-run variants of the str11/str12
  * gates must actually shed state — TTL'd top-k heaps (processing-time
  * TTL on transformWithState ValueState) and watermark-expired pair
  * dedup (dropDuplicatesWithinWatermark). Each test pins BOTH signals:
  * the state-store row count drops after expiry, and the behavioral
  * consequence (a re-queried key rebuilds from scratch / a re-arriving
  * pair re-emits) — the metric alone could silently measure the wrong
  * operator.
  *
  * A TTL'd transformWithState query SELF-TRIGGERS (processing-time
  * timer wake-ups), so `processAllAvailable` never sees quiescence —
  * the TTL test polls the sink/metrics of a continuously-running query
  * instead. */
class StreamStateSpec extends SparkTestBase {
  import spark.implicits._

  private def ckpt(tag: String): String =
    java.nio.file.Files.createTempDirectory(tag).toString

  private def pollUntil(timeoutMs: Long)(cond: => Boolean): Boolean = {
    val t0 = System.currentTimeMillis()
    var ok = cond
    while (!ok && System.currentTimeMillis() - t0 < timeoutMs) {
      Thread.sleep(100); ok = cond
    }
    ok
  }

  private def stateRows(q: StreamingQuery): Long =
    q.recentProgress.reverse
      .collectFirst { case p if p.stateOperators.nonEmpty =>
        p.stateOperators.head.numRowsTotal }
      .getOrElse(-1L)

  test("TopKTtlProcessor: idle query keys leave the state store after the TTL") {
    withSQLConf("spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") {
      implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
      val in = MemoryStream[(Long, Long, Double)] // (query_id, neighbor_id, sim)
      val out = in.toDS()
        .groupByKey(_._1)
        .mapValues(r => (r._2, r._3))
        .transformWithState(
          new StreamOps.TopKTtlProcessor(2, java.time.Duration.ofMillis(500)),
          TimeMode.ProcessingTime(), OutputMode.Update())
        .toDF("query_id", "neighbor_id", "sim", "rank")
      val q = out.writeStream.format("memory").queryName("ttl_topk")
        .outputMode("update").option("checkpointLocation", ckpt("ttl-topk")).start()
      try {
        in.addData((1L, 10L, 0.9), (1L, 11L, 0.8), (2L, 20L, 0.7))
        assert(pollUntil(60000) { spark.table("ttl_topk").count() >= 3L },
          "both query keys' top-k rows must reach the sink")
        assert(pollUntil(60000) { stateRows(q) >= 2L },
          s"two live query keys expected in state, got ${stateRows(q)}")
        val peak = stateRows(q)
        // both keys now idle: the self-triggering timer batches must
        // evict them once the 500 ms TTL lapses — the row count DROPS
        // with no new input at all
        assert(pollUntil(60000) { stateRows(q) == 0L },
          s"expired keys must leave the state store, still ${stateRows(q)} of $peak")
        // key 1 re-queried AFTER expiry: its heap rebuilds from scratch —
        // the old (10, 0.9)/(11, 0.8) entries are gone, so the post-expiry
        // candidate lands at rank 1 despite its lower sim
        in.addData((1L, 12L, 0.1))
        assert(pollUntil(60000) {
          spark.table("ttl_topk")
            .filter(col("query_id") === 1L && col("neighbor_id") === 12L &&
              col("rank") === 1).count() == 1L
        }, "a re-queried key must rebuild its heap from scratch (rank-1 = " +
          "the post-expiry candidate), proving the old entries expired")
      } finally q.stop()
    }
  }

  test("TopKTtlProcessor: a re-scored neighbor holds ONE rank (dedupe keeps max sim)") {
    withSQLConf("spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") {
      implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
      val in = MemoryStream[(Long, Long, Double)]
      val out = in.toDS()
        .groupByKey(_._1)
        .mapValues(r => (r._2, r._3))
        .transformWithState(
          new StreamOps.TopKTtlProcessor(3, java.time.Duration.ofMinutes(10)),
          TimeMode.ProcessingTime(), OutputMode.Update())
        .toDF("query_id", "neighbor_id", "sim", "rank")
      val q = out.writeStream.format("memory").queryName("ttl_rescore")
        .outputMode("update").option("checkpointLocation", ckpt("ttl-rescore")).start()
      try {
        // NOTE: pollUntil, never processAllAvailable — TTL state keeps
        // scheduling cleanup batches, so "all available" may never hold
        in.addData((1L, 10L, 0.9), (1L, 11L, 0.5))
        assert(pollUntil(60000) { spark.table("ttl_rescore").count() >= 2L },
          "first batch's top-k must reach the sink")
        // key 1 re-arrives BEFORE the TTL: neighbor 10 re-scores higher.
        // Without the dedupe it would occupy two ranks of the heap.
        in.addData((1L, 10L, 0.95), (1L, 12L, 0.4))
        assert(pollUntil(60000) {
          spark.table("ttl_rescore").filter(col("sim") === 0.95).count() >= 1L
        }, "re-scored batch must reach the sink")
        val last = spark.table("ttl_rescore")
          .groupBy("query_id", "neighbor_id")
          .agg(org.apache.spark.sql.functions.max_by(
            struct(col("sim"), col("rank")), col("sim")).as("s"))
          .select(col("neighbor_id"), col("s.sim"), col("s.rank"))
          .collect().map(r => (r.getLong(0), r.getDouble(1), r.getInt(2))).toSet
        assert(last.contains((10L, 0.95, 1)),
          s"re-scored neighbor must surface once at rank 1 with the max sim: $last")
        // the refreshed emission must hold each neighbor exactly once
        val emitted = spark.table("ttl_rescore")
          .filter(col("sim") === 0.95 || col("sim") === 0.4 ||
            (col("neighbor_id") === 11L && col("rank") === 2))
          .select("neighbor_id", "rank").collect()
          .map(r => (r.getLong(0), r.getInt(1))).toSet
        assert(emitted == Set((10L, 1), (11L, 2), (12L, 3)),
          s"final heap must be 10@1, 11@2, 12@3 with no duplicate neighbor: $emitted")
      } finally q.stop()
    }
  }

  test("ivfKnnStreamTtl: one streamed query batch matches the batch index lookup exactly") {
    withSQLConf("spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") {
      implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
      val rnd = new scala.util.Random(11)
      val emb = (0L until 60L).map(i => (i, Array.fill(8)(rnd.nextFloat() * 2 - 1)))
        .toDF("vec_id", "embedding")
      val idx = java.nio.file.Files.createTempDirectory("ttl-ivf").toString
      graft.ops.Similarity.buildIvfIndex(emb, idx, kClusters = 4, dim = 8)
      val queries = emb.filter(col("vec_id") % 20 === 0)
      val expected = graft.ops.Similarity
        .ivfTopKFromIndex(spark, idx, queries, k = 3, nProbe = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
        .toSet
      val in = MemoryStream[(Long, Array[Float])]
      val out = StreamOps.ivfKnnStreamTtl(spark,
        idx, in.toDF().toDF("vec_id", "embedding"), k = 3, nProbe = 2,
        ttl = java.time.Duration.ofMinutes(10))
      val q = out.writeStream.format("memory").queryName("ttl_ivf")
        .outputMode("update").option("checkpointLocation", ckpt("ttl-ivf")).start()
      try {
        in.addData(queries.collect().map(r =>
          (r.getLong(0), r.getSeq[Float](1).toArray)).toIndexedSeq)
        assert(pollUntil(60000) {
          spark.table("ttl_ivf").count() >= expected.size
        }, "streamed top-k must reach the sink")
        val got = spark.table("ttl_ivf")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
          .toSet
        assert(got == expected,
          s"TTL'd streaming top-k must equal the batch lookup:\n got $got\n exp $expected")
      } finally q.stop()
    }
  }

  test("ivfKnnStream never serves a tombstoned id and equals the batch lookup") {
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rnd = new scala.util.Random(7)
    val emb = (0L until 200L).map(i => (i, Array.fill(8)(rnd.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding")
    val idx = java.nio.file.Files.createTempDirectory("tomb-ivf").toString
    graft.ops.Similarity.buildIvfIndex(emb, idx, kClusters = 4, dim = 8)
    val queries = emb.filter(col("vec_id") % 20 === 0)
    def batchLookup() = graft.ops.Similarity
      .ivfTopKFromIndex(spark, idx, queries, k = 3, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSet
    // delete a neighbor the index serves right now, so a stream that
    // reads the raw corpus would surface it
    val victim = batchLookup().filter(_._4 == 1).minBy(_._1)._2
    graft.ops.Similarity.deleteFromIvfIndex(spark, idx, Seq(victim).toDF("vec_id"))
    val in = MemoryStream[(Long, Array[Float])]
    val out = StreamOps.ivfKnnStream(spark,
      idx, in.toDF().toDF("vec_id", "embedding"), k = 3, nProbe = 2)
    val q = out.writeStream.format("memory").queryName("tomb_ivf")
      .outputMode("complete").option("checkpointLocation", ckpt("tomb-ivf")).start()
    try {
      in.addData(queries.collect().map(r =>
        (r.getLong(0), r.getSeq[Float](1).toArray)).toIndexedSeq)
      q.processAllAvailable()
      val got = spark.table("tomb_ivf")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
        .toSet
      assert(!got.exists(_._2 == victim),
        s"tombstoned vec_id $victim was served by the stream: $got")
      val expected = batchLookup()
      assert(got.nonEmpty && got == expected,
        s"streamed top-k must equal the batch lookup after a delete:\n got $got\n exp $expected")
    } finally q.stop()
  }

  test("index streams delete their ephemeral checkpoint when stopped") {
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rnd = new scala.util.Random(5)
    val emb = (0L until 200L).map(i => (i, Array.fill(8)(rnd.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding")
    val ivf = java.nio.file.Files.createTempDirectory("ckpt-ivf").toString
    graft.ops.Similarity.buildIvfIndex(emb.filter(col("vec_id") % 10 =!= 9), ivf,
      kClusters = 4, dim = 8)
    val sem = java.nio.file.Files.createTempDirectory("ckpt-sem").toString
    graft.ops.Dedup.buildSemDedupIndex(emb.filter(col("vec_id") % 10 =!= 0), sem,
      "embedding", "vec_id", seeds = emb.filter(col("vec_id") % 25 === 0),
      seedId = "vec_id", seedEmb = "embedding")
    def checkpointOf(q: StreamingQuery): java.io.File = new java.io.File(
      new org.apache.hadoop.fs.Path(q.asInstanceOf[
        org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
        .streamingQuery.resolvedCheckpointRoot).toUri.getPath)
    Seq[(String, org.apache.spark.sql.DataFrame => StreamingQuery,
        org.apache.spark.sql.DataFrame)](
      ("ivfAppendStream", in => StreamOps.ivfAppendStream(spark, ivf, in),
        emb.filter(col("vec_id") % 10 === 9)),
      ("semDedupIngestStream", in => StreamOps.semDedupIngestStream(spark, sem,
        in, "embedding", "vec_id", 0.4, (_, _) => ()),
        emb.filter(col("vec_id") % 10 === 0)),
      ("semDedupGateStream", in => StreamOps.semDedupGateStream(spark, sem,
        in, "embedding", "vec_id", 0.4, (_, _) => ()),
        emb.filter(col("vec_id") % 100 === 0))
    ).foreach { case (name, start, batch) =>
      val in = MemoryStream[(Long, Array[Float])]
      val q = start(in.toDF().toDF("vec_id", "embedding"))
      val dir = try {
        in.addData(batch.collect().map(r =>
          (r.getLong(0), r.getSeq[Float](1).toArray)).toIndexedSeq)
        q.processAllAvailable()
        checkpointOf(q)
      } finally q.stop()
      assert(dir.getName.startsWith("graft-ckpt-"), s"$name: checkpoint at $dir")
      assert(!dir.exists(), s"$name left its checkpoint $dir after stop()")
    }
    Seq(ivf, sem).foreach(d => graft.TmpDirs.deleteRecursively(new java.io.File(d)))
  }

  test("tokenBudgetGateStream: budget enforced ACROSS micro-batches; rejected tokens still count") {
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(Long, String, String)] // (doc_id, lang, text)
    val arriving = in.toDF().toDF("doc_id", "lang", "text")
    val out = StreamOps.tokenBudgetGateStream(arriving, "text", "doc_id",
      "lang", budgets = Map("en" -> 10L))
    val q = out.writeStream.format("memory").queryName("budget_gate")
      .outputMode("update").option("checkpointLocation", ckpt("budget-gate")).start()
    try {
      // batch 1: 4 + 4 tokens admitted (cum 8); "fr" has no budget -> dropped
      in.addData((1L, "en", "a b c d"), (2L, "en", "e f g h"), (3L, "fr", "x y"))
      q.processAllAvailable()
      // batch 2: doc 4 (4 tokens) overflows cum to 12 -> rejected, but its
      // tokens COUNT (prefix cut), so doc 5 (2 tokens, cum 14) is also
      // rejected even though 8 + 2 would have fit greedily
      in.addData((4L, "en", "i j k l"), (5L, "en", "m n"))
      q.processAllAvailable()
      val got = spark.table("budget_gate")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(3))).toSet
      assert(got == Set(("en", 1L, 4L), ("en", 2L, 8L)),
        s"only the cross-batch prefix under budget may pass the gate: $got")
    } finally q.stop()
  }

  test("incrementalNearDupStream: watermarked pair-dedup state expires; a re-arriving pair re-emits") {
    val corpus = Seq((100L, "c0 c1 c2 c3 c4 c5 c6 c7 c8 c9"))
      .toDF("doc_id", "text")
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(Long, String, java.sql.Timestamp)]
    val arriving = in.toDF().toDF("doc_id", "text", "ts")
    val out = StreamOps.incrementalNearDupStream(corpus, arriving,
      threshold = 0.8, eventTimeCol = Some("ts"), dedupDelay = "10 minutes")
    val q = out.writeStream.format("memory").queryName("wm_pairs")
      .outputMode("append").option("checkpointLocation", ckpt("wm-pairs")).start()
    def t(minutes: Long) = new java.sql.Timestamp(1700000000000L + minutes * 60000L)
    val copy = "c0 c1 c2 c3 c4 c5 c6 c7 c8 c9"
    try {
      in.addData((1L, copy, t(0)))
      q.processAllAvailable()
      in.addData((2L, copy, t(5))) // watermark stays below t(0): no eviction yet
      q.processAllAvailable()
      val peak = q.lastProgress.stateOperators.head.numRowsTotal
      assert(peak >= 2L, s"both emitted pairs expected in dedup state, got $peak")
      // t(60) advances the watermark to t(50) at this batch's END, which
      // immediately evicts pairs 1 and 2 (their state expires at
      // t(10)/t(15)) — the row count DROPS
      in.addData((3L, copy, t(60)))
      q.processAllAvailable()
      val after = q.lastProgress.stateOperators.head.numRowsTotal
      assert(after < peak,
        s"watermark-expired pairs must leave the state store: peak=$peak after=$after")
      // doc 1 re-arrives past the watermark: its suppressing (1,100)
      // state is gone, so the pair EMITS AGAIN
      in.addData((1L, copy, t(70)))
      q.processAllAvailable()
      val emitted = spark.table("wm_pairs")
        .filter(col("id_a") === 1L && col("id_b") === 100L).count()
      assert(emitted == 2L,
        s"the re-arriving pair must re-emit after its state expired, got $emitted")
    } finally q.stop()
  }
}
