package graft.queries

import graft.{QDef, Tables}
import graft.cdc.CdcFixture
import graft.ops.IndexLog
import graft.streaming.StreamOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Structured Streaming queries, each drained synchronously into a memory
  * sink so the driver's batch-style verify can hash-compare them. Oracles
  * are the equivalent batch SQL — streaming and batch must agree on the
  * same bounded input (complete/single-batch semantics).
  */
object Streaming {

  /** Start, drain synchronously, return the memory-sink table.
    *
    * State-store sizing: a stateful query opens/commits one state store
    * per shuffle partition per stateful operator PER MICRO-BATCH — pure
    * overhead once partitions outnumber the live key cardinality. The
    * shuffle-partition conf is captured at `start()`, so clamping it
    * here (and restoring after) sizes ONLY this query's state layout —
    * the per-query knob a production deployment sets; at a larger key
    * cardinality the caller raises `statePartitions`. */
  private def drain(df: DataFrame, name: String, mode: String,
      statePartitions: Int = 8): DataFrame = {
    val spark = df.sparkSession
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    // RAM-backed ephemeral checkpoint (fresh per start, deleted at
    // stop) with checkpoint-file checksums off for its lifetime — the
    // checksum sidecar await on every state-commit close, not raw disk
    // I/O, was the measured bulk of the stateful stage's non-CPU time
    // (see EphemeralCkpt / TmpDirs.ramCheckpointDir)
    val ckpt = graft.TmpDirs.ramCheckpointDir(name)
    graft.streaming.EphemeralCkpt.withoutChecksums(spark) {
      val q = try {
        spark.conf.set("spark.sql.shuffle.partitions",
          math.min(prev.toInt, statePartitions).toString)
        df.writeStream.format("memory").queryName(name)
          .option("checkpointLocation", ckpt).outputMode(mode).start()
      } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
      try {
        q.processAllAvailable()
        // executed-plan capture for PlanLint's streaming audit (keyed by
        // the strNN/cdcNN prefix; must happen before stop)
        graft.tools.StreamPlanAudit.record(name.split("_").head, q)
      } finally {
        q.stop()
        // eager delete: repeated drains (the bench's reps) must not
        // accumulate checkpoint dirs on the RAM root
        graft.TmpDirs.deleteRecursively(new java.io.File(ckpt))
      }
    }
    spark.table(name)
  }

  val defs: Seq[QDef] = Seq(

    QDef("str01_window_agg",
      """SELECT CAST(DATE_TRUNC('hour', ts) AS TIMESTAMP) AS window_start, event_type,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(28,12))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      drain(StreamOps.windowAgg(StreamOps.eventsStream(s, dir)),
        "str01_" + java.lang.Integer.toHexString(dir.hashCode), "complete")
    },

    QDef("str02_stream_dedup",
      "SELECT DISTINCT user_id, event_type FROM events") { (s, dir) =>
      drain(StreamOps.streamingDedup(StreamOps.eventsStream(s, dir),
        Seq("user_id", "event_type")),
        "str02_" + java.lang.Integer.toHexString(dir.hashCode), "append")
    },

    // watermark-bounded dedup state — the form that holds at unbounded
    // runtime (state for keys older than the watermark is dropped)
    QDef("str05_dedup_within_watermark",
      "SELECT DISTINCT user_id, event_type FROM events") { (s, dir) =>
      val deduped = graft.streaming.StreamOps.eventsStream(s, dir)
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark("user_id", "event_type")
        .select(col("user_id"), col("event_type"))
      drain(deduped, "str05_" + java.lang.Integer.toHexString(dir.hashCode), "append")
    },

    // stream-static enrichment join: the static dim is re-read per
    // micro-batch and broadcast (no stream-side state at all) — the
    // right plan for dimension enrichment at any scale
    QDef("str08_stream_static_join",
      """SELECT c_mktsegment, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(28,12))) AS DOUBLE) AS total_value
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |GROUP BY c_mktsegment""".stripMargin) { (s, dir) =>
      val dim = graft.Tables.load(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"))
      val enriched = StreamOps.eventsStream(s, dir)
        .join(broadcast(dim), col("user_id") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(28,12)")).cast("double").as("total_value"))
      drain(enriched, "str08_" + java.lang.Integer.toHexString(dir.hashCode), "complete")
    },

    // foreachBatch sink: per-micro-batch parquet append keyed by batchId
    // (batch 0 overwrites -> reruns are idempotent; a production upsert
    // swaps the write for a MERGE keyed on batchId for exactly-once).
    // Aggregation runs over the re-read sink so the check covers the
    // full write-then-read path
    QDef("str07_foreachbatch_sink",
      "SELECT event_type, COUNT(*) AS n FROM events GROUP BY event_type") { (s, dir) =>
      // pid-scoped + shutdown-cleaned (TmpDirs): concurrent JVMs don't
      // clobber each other, repeated runs don't leak sink copies
      val out = graft.TmpDirs.scoped(
        "graft-str07-" + java.lang.Integer.toHexString(dir.hashCode))
      val ckpt = graft.TmpDirs.ramCheckpointDir("str07")
      graft.streaming.EphemeralCkpt.withoutChecksums(s) {
        val q = StreamOps.eventsStream(s, dir)
          .select(col("event_type"))
          .writeStream
          .option("checkpointLocation", ckpt)
          .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
            batch.write.mode(if (batchId == 0) "overwrite" else "append").parquet(out)
          }
          .start()
        try {
          q.processAllAvailable()
          graft.tools.StreamPlanAudit.record("str07", q)
        } finally {
          q.stop()
          graft.TmpDirs.deleteRecursively(new java.io.File(ckpt))
        }
      }
      s.read.parquet(out).groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    },

    // stream-stream interval join (view -> purchase attribution within
    // 30 min per user): both sides watermarked, condition bounds event
    // time both ways so join state is evictable at unbounded runtime
    QDef("str06_stream_stream_join",
      """SELECT a.event_id AS l_id, a.user_id, b.event_id AS r_id
        |FROM events a JOIN events b
        |  ON a.user_id = b.user_id
        | AND a.event_type = 'view' AND b.event_type = 'purchase'
        | AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 30 MINUTE""".stripMargin) { (s, dir) =>
      val views = StreamOps.eventsStream(s, dir).filter(col("event_type") === "view")
      val purchases = StreamOps.eventsStream(s, dir).filter(col("event_type") === "purchase")
      // interval joins carry 4 state stores per partition per side —
      // drain's statePartitions clamp matters most here
      drain(StreamOps.intervalJoin(views, purchases, "30 MINUTE"),
          "str06_" + java.lang.Integer.toHexString(dir.hashCode), "append")
        .select(col("l_id"), col("user_id"), col("r_id"))
    },

    // streaming session windows (5-minute gap): same operator as the
    // batch q48 — and the same oracle — run as a stateful stream.
    // Complete mode keeps session state mergeable until drain, so the
    // final sessions equal the batch gaps-and-islands reconstruction
    QDef("str09_stream_session_window",
      """WITH e AS (
        |  SELECT user_id, ts,
        |    CASE WHEN LAG(ts) OVER w IS NULL
        |              OR ts - LAG(ts) OVER w > INTERVAL 5 MINUTE
        |         THEN 1 ELSE 0 END AS brk
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), s AS (
        |  SELECT user_id, ts,
        |    SUM(brk) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM e
        |)
        |SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events
        |FROM s GROUP BY user_id, sid""".stripMargin) { (s, dir) =>
      val sessions = StreamOps.eventsStream(s, dir)
        .groupBy(session_window(col("ts"), "5 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"), col("session_window.start").as("session_start"),
          col("n_events"))
      drain(sessions, "str09_" + java.lang.Integer.toHexString(dir.hashCode), "complete")
    },

    // event-time windows over the CDC STREAM itself (the streaming twin
    // of cdc05): watermark + tumbling window on the __tm envelope column
    // of the binlogcdc source — late change events would be dropped at
    // the watermark, exactly like any other event-time stream
    QDef("cdc15_stream_tm_windows",
      s"""${Cdc.eventsCte}
         |SELECT CAST(DATE_TRUNC('hour', __tm) AS TIMESTAMP) AS hour_bucket,
         |  __op, COUNT(*) AS n
         |FROM cdc_tm GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      val index = graft.cdc.CdcFixture.ensure(s, dir)
      val stream = s.readStream.format("binlogcdc")
        .option("indexFile", index)
        .option("database", graft.cdc.CdcFixture.Db)
        .option("table", graft.cdc.CdcFixture.Table)
        .load()
        // __tm is TIMESTAMP_NTZ; watermarks require TIMESTAMP — the UTC
        // session TZ makes the NTZ->LTZ->NTZ round-trip the identity
        .withColumn("__tm_ltz", col("__tm").cast("timestamp"))
        .withWatermark("__tm_ltz", "1 hour")
        .groupBy(window(col("__tm_ltz"), "1 hour"), col("__op"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").cast("timestamp_ntz").as("hour_bucket"),
          col("__op"), col("n"))
      drain(stream, "cdc15_" + java.lang.Integer.toHexString(dir.hashCode), "complete")
    },

    // arbitrary stateful processing v2 (transformWithState + RocksDB
    // state store): per-user running stats in a keyed ValueState. The
    // update-mode sink holds one row per (user, batch); the final row
    // per user (n_events is monotone) equals the batch aggregate
    QDef("str10_transform_with_state",
      """SELECT user_id, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(28,12))) AS DOUBLE) AS total_value
        |FROM events GROUP BY user_id""".stripMargin) { (s, dir) =>
      val key = "spark.sql.streaming.stateStore.providerClass"
      val prev = s.conf.getOption(key)
      s.conf.set(key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      try {
        val out = drain(
          StreamOps.runningUserStats(StreamOps.eventsStream(s, dir)).toDF(),
          "str10_" + java.lang.Integer.toHexString(dir.hashCode), "update")
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id")).orderBy(col("n_events").desc)
        out.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
          .select(col("user_id"), col("n_events"),
            col("total_value").cast("double").as("total_value"))
      } finally prev match {
        case Some(p) => s.conf.set(key, p)
        case None => s.conf.unset(key)
      }
    },

    // stateful latest-image: the streaming twin of cdc03 (same oracle,
    // restricted to the columns the state carries)
    QDef("str03_stream_latest_image",
      """SELECT o_orderkey, o_custkey,
        |  CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice * 1.1 ELSE o_totalprice END AS o_totalprice
        |FROM orders WHERE o_orderkey % 100 <> 0""".stripMargin) { (s, dir) =>
      val index = CdcFixture.ensure(s, dir)
      val stream = s.readStream.format("binlogcdc")
        .option("indexFile", index)
        .option("database", CdcFixture.Db)
        .option("table", CdcFixture.Table)
        .load()
      val latest = StreamOps.latestImageStream(stream)
      val out = drain(latest.toDF(), "str03_" + java.lang.Integer.toHexString(dir.hashCode), "update")
      // update-mode sink may contain multiple state versions per key if
      // the source split batches; keep the last (highest gtid) per key
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_orderkey")).orderBy(col("gtid").desc)
      out.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
        .filter(!col("deleted"))
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    },

    // streaming incremental near-dup: every tenth doc ARRIVES as a
    // stream and checks against the static corpus's LSH band index —
    // the admission-control twin of llm44 (same oracle restricted to
    // stream×corpus pairs; batch-internal pairs are the batch
    // operator's job). All stream-static joins — append mode, no
    // watermark needed for a bounded replay.
    QDef("str11_incremental_neardup",
      s"""WITH ${OracleSql.prefixFilterCtes(0.8)}
         |${OracleSql.verifiedPairsSelect(0.8,
             extraWhere = " AND ((id_a % 10 = 0) <> (id_b % 10 = 0))")}""".stripMargin) { (s, dir) =>
      val corpus = graft.Tables.load(s, dir, "documents")
        .filter(col("doc_id") % 10 =!= 0)
      val arriving = StreamOps.documentsStream(s, dir)
        .filter(col("doc_id") % 10 === 0)
      drain(StreamOps.incrementalNearDupStream(corpus, arriving, threshold = 0.8),
        "str11_" + java.lang.Integer.toHexString(dir.hashCode), "append")
    },

    // streaming ANN serving: arriving query vectors probe the prebuilt
    // IVF index (llm45's lifecycle, online) — stream-static cell join +
    // TopKSimAgg state, one k-row buffer per query. The drained
    // result passes the same exactness/recall gate as the batch paths
    QDef("str12_stream_knn", Llm.annGateOracle(10)) { (s, dir) =>
      val emb = graft.Tables.load(s, dir, "embeddings")
      val idx = Llm.ensureIvfIndex(s, dir)
      val queries = StreamOps.embeddingsStream(s, dir)
        .filter(col("vec_id") % 50 === 0)
      val knn = drain(StreamOps.ivfKnnStream(s, idx, queries, k = 10, nProbe = 6),
        "str12_" + java.lang.Integer.toHexString(dir.hashCode), "complete")
      Llm.annGate(knn, emb, k = 10, minMatches = 3)
    },

    // streaming span-duplication gate: arriving docs scored for
    // coverage by spans duplicated within the STATIC corpus (the
    // admission-control form of llm49). The oracle replays the
    // corpus-side dup set and the merged-interval coverage; the stream
    // computes the identical union length via a sorted-interval fold
    // (windows are unavailable on streams). Full-doc output — every
    // arriving doc emits a row, coverage-0 and short docs included,
    // matching batch spanDupCoverage (the oracle's final LEFT JOIN)
    QDef("str13_stream_span_gate",
      """WITH tk AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |csp AS (SELECT doc_id, unnest(list_transform(range(0, len(tk) - 7),
        |    i -> array_to_string(tk[i + 1 : i + 8], ' '))) AS span
        |  FROM tk WHERE len(tk) >= 8 AND doc_id % 10 <> 0),
        |dup AS (SELECT span FROM csp GROUP BY span HAVING COUNT(DISTINCT doc_id) >= 2),
        |a AS (SELECT doc_id, len(tk) AS n_tokens, tk FROM tk WHERE doc_id % 10 = 0),
        |asp AS (SELECT doc_id, n_tokens, unnest(range(0, n_tokens - 7)) AS s, tk
        |  FROM a WHERE n_tokens >= 8),
        |occ AS (SELECT doc_id, n_tokens, s AS st, s + 8 AS en
        |  FROM (SELECT doc_id, n_tokens, s, array_to_string(tk[s + 1 : s + 8], ' ') AS span
        |        FROM asp)
        |  WHERE span IN (SELECT span FROM dup)),
        |m AS (SELECT doc_id, n_tokens, st, en,
        |    MAX(en) OVER (PARTITION BY doc_id ORDER BY st, en
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
        |  FROM occ),
        |isl AS (SELECT doc_id, n_tokens, st, en,
        |    SUM(CASE WHEN prev_max IS NULL OR st > prev_max THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY doc_id ORDER BY st, en ROWS UNBOUNDED PRECEDING) AS island
        |  FROM m),
        |cov AS (SELECT doc_id, n_tokens, island, MAX(en) - MIN(st) AS c
        |  FROM isl GROUP BY 1, 2, 3),
        |agg AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS dup_tokens
        |  FROM cov GROUP BY doc_id)
        |SELECT a.doc_id, CAST(a.n_tokens AS BIGINT) AS n_tokens,
        |  COALESCE(g.dup_tokens, 0) AS dup_tokens,
        |  CAST(COALESCE(g.dup_tokens, 0) AS DOUBLE)
        |    / CAST(a.n_tokens AS DOUBLE) AS dup_ratio
        |FROM a LEFT JOIN agg g USING (doc_id)""".stripMargin) { (s, dir) =>
      val docs = graft.Tables.load(s, dir, "documents")
      val corpus = docs.filter(col("doc_id") % 10 =!= 0)
      val arriving = StreamOps.documentsStream(s, dir)
        .filter(col("doc_id") % 10 === 0)
      drain(StreamOps.spanCoverageStream(corpus, arriving),
        "str13_" + java.lang.Integer.toHexString(dir.hashCode), "complete")
    },

    // streaming decontamination gate: arriving training docs check
    // against the static src0 "benchmark" gram set before landing —
    // llm61's admission-control twin (same oracle SQL; a doc's grams
    // all arrive in its own micro-batch, so update mode emits each
    // contaminated doc once)
    QDef("str16_decontaminate_gate",
      """WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS tk FROM documents),
        |g AS (SELECT doc_id, source,
        |    unnest(list_distinct(list_transform(range(1, len(tk) - 6), i ->
        |      tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3] || ' ' ||
        |      tk[i+4] || ' ' || tk[i+5] || ' ' || tk[i+6] || ' ' || tk[i+7]))) AS gram
        |  FROM t WHERE len(tk) >= 8),
        |ev AS (SELECT DISTINCT gram FROM g WHERE source = 'src0')
        |SELECT g.doc_id, COUNT(*) AS n_hits
        |FROM g JOIN ev USING (gram)
        |WHERE g.source <> 'src0'
        |GROUP BY 1""".stripMargin) { (s, dir) =>
      val evalDocs = graft.Tables.load(s, dir, "documents")
        .filter(col("source") === "src0")
      val arriving = StreamOps.documentsStream(s, dir)
        .filter(col("source") =!= "src0")
      drain(StreamOps.decontaminateStream(evalDocs, arriving),
        "str16_" + java.lang.Integer.toHexString(dir.hashCode), "update")
    },

    // streaming quality-rule admission gate: every arriving doc is
    // scored by the Gopher rule set at ingest and lands with keep /
    // drop_reason attribution — llm62's admission-control twin (same
    // oracle SQL). Pure stateless narrow ops: append mode, no
    // watermark, no state store; at scale this runs at ingest speed.
    QDef("str17_rule_gate",
      s"""WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS tk FROM documents),
         |m AS (SELECT doc_id,
         |    CAST(len(tk) AS BIGINT) AS n_words,
         |    CAST(length(text) - len(tk) + 1 AS DOUBLE) / CAST(len(tk) AS DOUBLE) AS mean_wlen,
         |    CAST(len(list_intersect(list_distinct(tk),
         |      [${graft.ops.TextAnalysis.StopWords.map("'" + _ + "'").mkString(",")}])) AS INT) AS stop_hits,
         |    CAST(len(list_distinct(tk)) AS DOUBLE) / CAST(len(tk) AS DOUBLE) AS uniq_ratio
         |  FROM t),
         |r AS (SELECT *,
         |    CASE WHEN n_words < 20 OR n_words > 90 THEN 'word_count'
         |         WHEN mean_wlen < 4.0 OR mean_wlen > 5.1 THEN 'mean_word_length'
         |         WHEN stop_hits < 1 THEN 'stopwords'
         |         WHEN uniq_ratio < 0.35 THEN 'repetition' END AS drop_reason
         |  FROM m)
         |SELECT doc_id, n_words, mean_wlen, stop_hits, uniq_ratio,
         |  drop_reason IS NULL AS keep, drop_reason
         |FROM r""".stripMargin) { (s, dir) =>
      val arriving = StreamOps.documentsStream(s, dir)
      drain(graft.ops.TextAnalysis.gopherRules(arriving),
        "str17_" + java.lang.Integer.toHexString(dir.hashCode), "append")
    },

    // streaming token-budget ingestion gate: each language admits
    // arriving docs IN ARRIVAL (doc_id) ORDER until its token budget is
    // spent — the admission-control twin of llm56's priority-order
    // mixture. Prefix-cut semantics (running total counts rejected docs
    // too), so the oracle is a plain per-group window cumsum; state is
    // one running total per group
    QDef("str14_token_budget_gate",
      """WITH b(lang, budget) AS (VALUES ('en', 4000), ('zh', 1500), ('de', 800)),
        |t AS (SELECT d.lang, doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |    b.budget
        |  FROM documents d JOIN b USING (lang)),
        |c AS (SELECT lang, doc_id, n_tokens, budget,
        |    SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
        |      ROWS UNBOUNDED PRECEDING) AS cum_tokens
        |  FROM t)
        |SELECT lang, doc_id, n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens
        |FROM c WHERE cum_tokens <= budget""".stripMargin) { (s, dir) =>
      val arriving = StreamOps.documentsStream(s, dir)
      drain(StreamOps.tokenBudgetGateStream(arriving, "text", "doc_id", "lang",
          budgets = Map("en" -> 4000L, "zh" -> 1500L, "de" -> 800L)),
        "str14_" + java.lang.Integer.toHexString(dir.hashCode), "update")
    },

    // streaming media admission gate: every 37th arriving image payload
    // is truncated (the failed-upload population); the gate REALLY
    // decodes each blob per partition and admits only decodable ones,
    // fail-soft — a corrupt blob drops, the stream never dies. Pure
    // stateless narrow ops, so append mode with no watermark; the
    // oracle replays the survivor set and the decoded dims from the
    // image formula
    QDef("str15_image_gate",
      """SELECT doc_id AS media_id,
        |  CAST(doc_id % 8 + 2 AS INTEGER) AS width,
        |  CAST(doc_id % 6 + 2 AS INTEGER) AS height,
        |  CAST((doc_id % 8 + 2) * (doc_id % 6 + 2) AS INTEGER) AS n_pixels
        |FROM documents WHERE doc_id % 37 <> 0""".stripMargin) { (s, dir) =>
      val arriving = StreamOps.documentsStream(s, dir)
      val media = graft.ops.Multimodal.corruptedImageTable(arriving, corruptEvery = 37L)
      drain(graft.ops.Multimodal.imageAdmissionGate(media),
        "str15_" + java.lang.Integer.toHexString(dir.hashCode), "append")
    },

    // streaming cluster-index maintenance: llm74's lifecycle ONLINE — a
    // foreachBatch sink folds each arriving micro-batch into the
    // persisted near-dup cluster index with appendToClusterIndex (exact
    // candidates vs the persisted inverted index, one commit per
    // micro-batch). Appends compose under full-rebuild equivalence, so the
    // served verdicts match the from-scratch closure over the FULL
    // corpus regardless of how the stream sliced the batches — llm74's
    // oracle verbatim.
    QDef("str18_cluster_index_stream",
      s"""WITH RECURSIVE ${OracleSql.closureCtes(0.8)},
        |cl AS (SELECT canon_id, COUNT(*) AS csize FROM lab GROUP BY 1),
        |sc AS (SELECT doc_id,
        |    CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
        |      / CAST(len(string_split(text, ' '))  AS DOUBLE) AS score
        |  FROM documents)
        |SELECT l.doc_id, l.canon_id, CAST(cl.csize AS BIGINT) AS cluster_size,
        |  s.score,
        |  (ROW_NUMBER() OVER (PARTITION BY l.canon_id
        |     ORDER BY s.score DESC, l.doc_id) = 1) AS keep
        |FROM lab l JOIN cl USING (canon_id) JOIN sc s USING (doc_id)"""
        .stripMargin) { (s, dir) =>
      val idx = LlmExt2.ensureStreamedClusterIndex(s, dir)
      IndexLog.snapshot(s, idx).frame("verdicts")
        .select(col("doc_id"), col("canon_id"), col("cluster_size"),
          col("score"), col("keep"))
    },

    // streaming cluster-index TAKEDOWN: llm75's delete lifecycle
    // ONLINE — opt-out/PII-purge requests arrive as a stream and a
    // foreachBatch sink removes each micro-batch with
    // deleteFromClusterIndex (bridge-splitting connectivity recompute
    // over the affected clusters, one commit per micro-batch, replays
    // no-op through the liveness-gated op id). Deletes compose under
    // full-rebuild equivalence, so the served verdicts match the
    // from-scratch closure over the REMAINING corpus regardless of how
    // the stream sliced the requests — llm75's oracle verbatim.
    QDef("str19_cluster_index_takedown",
      s"""WITH RECURSIVE ${OracleSql.closureCtes(0.8, "doc_id % 10 <> 7")},
        |cl AS (SELECT canon_id, COUNT(*) AS csize FROM lab GROUP BY 1),
        |sc AS (SELECT doc_id,
        |    CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
        |      / CAST(len(string_split(text, ' '))  AS DOUBLE) AS score
        |  FROM documents)
        |SELECT l.doc_id, l.canon_id, CAST(cl.csize AS BIGINT) AS cluster_size,
        |  s.score,
        |  (ROW_NUMBER() OVER (PARTITION BY l.canon_id
        |     ORDER BY s.score DESC, l.doc_id) = 1) AS keep
        |FROM lab l JOIN cl USING (canon_id) JOIN sc s USING (doc_id)"""
        .stripMargin) { (s, dir) =>
      val idx = LlmExt2.ensureStreamedTakedownIndex(s, dir)
      IndexLog.snapshot(s, idx).frame("verdicts")
        .select(col("doc_id"), col("canon_id"), col("cluster_size"),
          col("score"), col("keep"))
    },

    // streaming SEMANTIC-DEDUP admission gate over llm82's persisted
    // index: each arriving vector is cell-assigned with one narrow
    // argmax (seed literals — no shuffle on the stream) and flagged
    // iff the INDEX holds a same-cell member at cosine >= 0.40. The
    // index is the authority — arriving-batch internal pairs are
    // deliberately the batch ops' job (they depend on micro-batch
    // slicing; the gate's verdicts are slicing-invariant), so the
    // oracle is the from-scratch assignment with corpus-side witnesses
    // only.
    QDef("str20_semdedup_gate", {
      def fold(a: String, b: String) =
        s"CASE WHEN least(len($a), len($b)) = 0 THEN 0.0 ELSE list_reduce(list_transform(range(1, least(len($a), len($b)) + 1), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)), (x, y) -> x + y) END"
      def cos(a: String, b: String) =
        s"""CASE WHEN (${fold(a, a)}) = 0.0 OR (${fold(b, b)}) = 0.0 THEN 0.0
           |    ELSE (${fold(a, b)}) / (sqrt(${fold(a, a)}) * sqrt(${fold(b, b)})) END""".stripMargin
      s"""WITH seeds AS (SELECT vec_id AS seed_id, embedding AS s_emb
         |  FROM embeddings WHERE vec_id % 25 = 0),
         |sc AS (SELECT e.vec_id, s.seed_id, ${cos("e.embedding", "s.s_emb")} AS c
         |  FROM embeddings e CROSS JOIN seeds s),
         |asg AS (SELECT vec_id, seed_id AS cluster_id FROM (
         |  SELECT vec_id, seed_id, ROW_NUMBER() OVER (PARTITION BY vec_id
         |    ORDER BY c DESC, seed_id) AS rn FROM sc) WHERE rn = 1),
         |pairs AS (SELECT m.vec_id AS id_a, b.vec_id AS id_b
         |  FROM asg m JOIN asg b ON m.cluster_id = b.cluster_id
         |  WHERE m.vec_id % 10 <> 0 AND b.vec_id % 10 = 0),
         |dup AS (SELECT DISTINCT p.id_b AS vec_id FROM pairs p
         |  JOIN embeddings ea ON p.id_a = ea.vec_id
         |  JOIN embeddings eb ON p.id_b = eb.vec_id
         |  WHERE ${cos("ea.embedding", "eb.embedding")} >= 0.40)
         |SELECT g.vec_id, g.cluster_id, (d.vec_id IS NOT NULL) AS is_dup
         |FROM asg g LEFT JOIN dup d ON g.vec_id = d.vec_id
         |WHERE g.vec_id % 10 = 0""".stripMargin
    }) { (s, dir) =>
      val idx = LlmExt2.ensureSemDedupIndex(s, dir)
      val arriving = StreamOps.embeddingsStream(s, dir)
        .filter(col("vec_id") % 10 === 0)
      // foreachBatch gate: verdicts accumulate driver-side (the memory
      // sink's own semantics), the inner batch plan — the one with the
      // cell-pruned members scan — is recorded for PlanLint's streaming
      // audit (the outer StreamExecution plan is a trivial projection)
      val buf = new java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.sql.Row]()
      @volatile var innerPlan: String = null
      @volatile var outSchema: org.apache.spark.sql.types.StructType = null
      graft.streaming.EphemeralCkpt.withoutChecksums(s) {
        val q = StreamOps.semDedupGateStream(s, idx, arriving,
          "embedding", "vec_id", threshold = 0.40,
          sink = (out, _) => {
            out.collect().foreach(buf.add)
            outSchema = out.schema
            innerPlan = out.queryExecution.executedPlan.toString
          })
        try q.processAllAvailable() finally q.stop()
      }
      Option(innerPlan)
        .foreach(graft.tools.StreamPlanAudit.recordPlan("str20", _))
      require(outSchema != null,
        "str20: the gate stream produced no micro-batch")
      s.createDataFrame(new java.util.ArrayList(buf), outSchema)
    },

    // streaming SEMANTIC-DEDUP INGESTION — the gate's admit-and-index
    // sibling: each arriving micro-batch FOLDS INTO the persisted index
    // (Dedup.appendToSemDedupIndex via foreachBatch), so the index
    // after the stream equals a from-scratch build over corpus ∪
    // arrivals and the union of per-batch verdicts equals the one-shot
    // id-ordered probe — llm82's restricted oracle VERBATIM, served
    // online. Committed micro-batch replays no-op (deterministic opId +
    // commit marker), so at-least-once delivery converges.
    QDef("str21_semdedup_ingest", {
      def fold(a: String, b: String) =
        s"CASE WHEN least(len($a), len($b)) = 0 THEN 0.0 ELSE list_reduce(list_transform(range(1, least(len($a), len($b)) + 1), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)), (x, y) -> x + y) END"
      def cos(a: String, b: String) =
        s"""CASE WHEN (${fold(a, a)}) = 0.0 OR (${fold(b, b)}) = 0.0 THEN 0.0
           |    ELSE (${fold(a, b)}) / (sqrt(${fold(a, a)}) * sqrt(${fold(b, b)})) END""".stripMargin
      s"""WITH seeds AS (SELECT vec_id AS seed_id, embedding AS s_emb
         |  FROM embeddings WHERE vec_id % 25 = 0),
         |sc AS (SELECT e.vec_id, s.seed_id, ${cos("e.embedding", "s.s_emb")} AS c
         |  FROM embeddings e CROSS JOIN seeds s),
         |asg AS (SELECT vec_id, seed_id AS cluster_id FROM (
         |  SELECT vec_id, seed_id, ROW_NUMBER() OVER (PARTITION BY vec_id
         |    ORDER BY c DESC, seed_id) AS rn FROM sc) WHERE rn = 1),
         |pairs AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
         |  FROM asg a JOIN asg b ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
         |  WHERE b.vec_id % 10 = 0),
         |dup AS (SELECT DISTINCT p.id_b AS vec_id FROM pairs p
         |  JOIN embeddings ea ON p.id_a = ea.vec_id
         |  JOIN embeddings eb ON p.id_b = eb.vec_id
         |  WHERE ${cos("ea.embedding", "eb.embedding")} >= 0.40)
         |SELECT g.vec_id, g.cluster_id, (d.vec_id IS NOT NULL) AS is_dup
         |FROM asg g LEFT JOIN dup d ON g.vec_id = d.vec_id
         |WHERE g.vec_id % 10 = 0""".stripMargin
    }) { (s, dir) =>
      val root = LlmExt2.ensureStreamedIngestIndex(s, dir)
      val parts = Option(new java.io.File(s"$root/verdicts").listFiles())
        .getOrElse(Array.empty[java.io.File])
        .filter(_.getName.startsWith("b=")).map(_.getAbsolutePath).sorted
      require(parts.nonEmpty, "str21: the ingest stream produced no batch")
      s.read.parquet(parts.toIndexedSeq: _*)
    },

    // streaming IVF index GROWTH — llm65's append lifecycle online: the
    // held-out 10% arrives as a stream and folds into the persisted
    // index per micro-batch (assignment-only, frozen centroids;
    // committed replays no-op through the all-live check). Serving then
    // answers over old + new through the same static-partition-filter
    // scan, and llm65's gate/oracle holds against the FULL corpus —
    // appended-by-stream vectors are first-class.
    QDef("str22_stream_ivf_append", Llm.annGateOracle(10)) { (s, dir) =>
      val emb = Tables.load(s, dir, "embeddings")
      val idx = Llm.ensureStreamedIvfIndex(s, dir)
      val queries = emb.filter(col("vec_id") % 50 === 0)
      Llm.annGate(
        graft.ops.Similarity.ivfTopKFromIndex(s, idx, queries, k = 10,
          nProbe = 10),
        emb, k = 10, minMatches = 5)
    }
  )
}
