package graft.queries

import graft.{QDef, Tables}
import graft.ops.{Dedup, IndexLog, TextAnalysis}
import org.apache.spark.sql.functions._

/** Third tranche of LLM-pipeline operators: Simpson token diversity,
  * deterministic weighted sampling, and train/eval contamination audit.
  * All oracle-checked — exact integer ratios or content-hash gates both
  * engines replay bit-for-bit.
  */
object LlmExt2 {

  /** mod-poly-hash fold, the DuckDB-portable text hash (same as llm21/llm28). */
  private val hashSql =
    """list_reduce([CAST(0 AS BIGINT)] ||
      |    list_transform(range(1, strlen(text) + 1), i -> CAST(ord(text[i]) AS BIGINT)),
      |    (h, c) -> (h * 131 + c) % 2147483647)""".stripMargin

  // per-index-path build locks (same discipline as Llm.ensureIvfIndex)
  private val ndBuildLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Build-once discipline shared by the persisted-index fixtures: one
    * lock per scoped root; `isBuilt` decides trust (callers pick a
    * marker the builder writes LAST so a half-built index is never
    * trusted), `build` runs under the lock when not built. */
  private def buildOnce(root: String)(isBuilt: => Boolean)(build: => Unit): Unit = {
    val lock = ndBuildLocks.computeIfAbsent(root, _ => new Object)
    lock.synchronized { if (!isBuilt) build }
  }

  /** The llm73 cluster index: Dedup.buildClusterIndex over the full
    * documents table at the llm66/llm68 threshold, built once per JVM
    * (same marker discipline as the IVF fixtures — _CLUSTERED last). */
  private[queries] def ensureClusterIndex(s: org.apache.spark.sql.SparkSession,
      dir: String): String = {
    val root = graft.TmpDirs.scoped("graft-clidx2-" + graft.TmpDirs.pathKey(dir))
    val marker = new java.io.File(s"$root/_CLUSTERED")
    buildOnce(root)(marker.exists()) {
      Dedup.buildClusterIndex(Tables.load(s, dir, "documents"),
        s"$root/index", threshold = 0.8)
      marker.createNewFile()
    }
    s"$root/index"
  }

  /** The llm74 cluster index: built over the doc_id %% 10 != 0 corpus
    * NINETY percent, then the held-out 10%% APPENDED
    * (Dedup.appendToClusterIndex) — the daily-crawl-batch lifecycle.
    * Full-rebuild equivalence makes the from-scratch oracle valid. */
  private[queries] def ensureAppendedClusterIndex(
      s: org.apache.spark.sql.SparkSession, dir: String): String = {
    val root = graft.TmpDirs.scoped("graft-clapp2-" + graft.TmpDirs.pathKey(dir))
    val marker = new java.io.File(s"$root/_APPENDED")
    buildOnce(root)(marker.exists()) {
      val docs = Tables.load(s, dir, "documents")
      Dedup.buildClusterIndex(docs.filter(col("doc_id") % 10 =!= 0),
        s"$root/index", threshold = 0.8)
      Dedup.appendToClusterIndex(s, s"$root/index",
        docs.filter(col("doc_id") % 10 === 0))
      marker.createNewFile()
    }
    s"$root/index"
  }

  /** The llm75 cluster index: built over the FULL corpus, then every
    * doc_id %% 10 == 7 doc DELETED (Dedup.deleteFromClusterIndex) — the
    * takedown/retention lifecycle (opt-outs, license revocations, PII
    * purges). Full-rebuild equivalence makes the from-scratch oracle
    * over the remaining corpus valid — bridge-doc SPLITS included. */
  private[queries] def ensureDeletedClusterIndex(
      s: org.apache.spark.sql.SparkSession, dir: String): String = {
    val root = graft.TmpDirs.scoped("graft-cldel2-" + graft.TmpDirs.pathKey(dir))
    val marker = new java.io.File(s"$root/_DELETED")
    buildOnce(root)(marker.exists()) {
      val docs = Tables.load(s, dir, "documents")
      Dedup.buildClusterIndex(docs, s"$root/index", threshold = 0.8)
      Dedup.deleteFromClusterIndex(s, s"$root/index",
        docs.filter(col("doc_id") % 10 === 7).select(col("doc_id")))
      marker.createNewFile()
    }
    s"$root/index"
  }

  /** The llm79 artifact-hygiene fixture: the cluster index built over
    * the FULL corpus, every doc_id %% 10 == 7 doc DELETED, then the
    * same docs RE-APPENDED — the takedown/reingest churn that strands
    * stale artifact rows (the deleted docs' build-era shingle/prefix
    * sets stay behind, shadowed by the re-appended sets). The hygiene
    * report is captured BEFORE and AFTER
    * `Dedup.compactClusterIndexArtifacts` and PERSISTED at build time —
    * the "before" state is unobservable once compaction ran, so the
    * fixture snapshots both. */
  private[queries] def ensureArtifactHygieneReport(
      s: org.apache.spark.sql.SparkSession, dir: String): String = {
    val root = graft.TmpDirs.scoped("graft-clhyg2-" + graft.TmpDirs.pathKey(dir))
    val marker = new java.io.File(s"$root/_COMPACTED")
    buildOnce(root)(marker.exists()) {
      val docs = Tables.load(s, dir, "documents")
      val churn = docs.filter(col("doc_id") % 10 === 7)
      Dedup.buildClusterIndex(docs, s"$root/index", threshold = 0.8)
      Dedup.deleteFromClusterIndex(s, s"$root/index",
        churn.select(col("doc_id")))
      Dedup.appendToClusterIndex(s, s"$root/index",
        churn.select(col("doc_id"), col("text")))
      // materialize BEFORE compacting: the report is lazy, and the
      // compaction commit deletes the very files its scan listed
      val before = Dedup.clusterIndexArtifactReport(s, s"$root/index")
        .withColumn("stage", lit("before"))
        .localCheckpoint(true)
      Dedup.compactClusterIndexArtifacts(s, s"$root/index")
      val after = Dedup.clusterIndexArtifactReport(s, s"$root/index")
        .withColumn("stage", lit("after"))
      before.unionByName(after)
        .repartition(1).write.mode("overwrite").parquet(s"$root/report")
      marker.createNewFile()
    }
    s"$root/report"
  }

  /** The str18 cluster index: built over the doc_id %% 10 != 0 corpus,
    * then the held-out 10%% STREAMED in and folded per micro-batch by a
    * foreachBatch appendToClusterIndex — the online form of llm74's
    * daily-batch lifecycle (a crawl stream maintaining the dedup index
    * as it lands). Appends COMPOSE under full-rebuild equivalence, so
    * any micro-batch slicing converges to the same verdicts and llm74's
    * from-scratch oracle stays valid. The whole build+drain runs under
    * the build-once lock (single-writer by the append contract); a
    * re-run of an already-committed micro-batch is a silent no-op (the
    * deterministic append id), so replays converge too. */
  private[queries] def ensureStreamedClusterIndex(
      s: org.apache.spark.sql.SparkSession, dir: String): String = {
    val root = graft.TmpDirs.scoped("graft-clstr2-" + graft.TmpDirs.pathKey(dir))
    val marker = new java.io.File(s"$root/_STREAMED")
    buildOnce(root)(marker.exists()) {
      val docs = Tables.load(s, dir, "documents")
      Dedup.buildClusterIndex(docs.filter(col("doc_id") % 10 =!= 0),
        s"$root/index", threshold = 0.8)
      val arriving = graft.streaming.StreamOps.documentsStream(s, dir)
        .filter(col("doc_id") % 10 === 0)
        .select(col("doc_id"), col("text"))
      val q = arriving.writeStream
        .option("checkpointLocation", s"$root/ckpt")
        .foreachBatch {
          (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
              _: Long) =>
            Dedup.appendToClusterIndex(s, s"$root/index", batch.toDF())
        }
        .start()
      try {
        q.processAllAvailable()
        graft.tools.StreamPlanAudit.record("str18", q)
      } finally q.stop()
      marker.createNewFile()
    }
    s"$root/index"
  }

  /** The llm82 semantic-dedup index: the vec_id %% 10 != 0 corpus
    * assigned once into its Voronoi cells and persisted cell-
    * partitioned (Dedup.buildSemDedupIndex) — later batches probe only
    * the cells they touch. The index log's head is the built-ness
    * marker: the build commits seeds and members together. */
  private[queries] def ensureSemDedupIndex(
      s: org.apache.spark.sql.SparkSession, dir: String): String = {
    val root = graft.TmpDirs.scoped("graft-semidx2-" + graft.TmpDirs.pathKey(dir))
    val idx = s"$root/index"
    buildOnce(root)(graft.ops.IndexLog.head(s, idx).isDefined) {
      val emb = Tables.load(s, dir, "embeddings")
      Dedup.buildSemDedupIndex(emb.filter(col("vec_id") % 10 =!= 0), idx,
        "embedding", "vec_id",
        seeds = emb.filter(col("vec_id") % 25 === 0),
        seedId = "vec_id", seedEmb = "embedding")
    }
    idx
  }

  /** The llm83 GROWN semantic-dedup index: llm82's corpus/quantizer,
    * then the vec_id %% 10 == 0 population appended ONLINE in two
    * id-monotone batches (`Dedup.appendToSemDedupIndex`), each batch's
    * verdicts persisted as they are returned. Because the append's
    * probe is id-ordered on both sides, the union of the per-batch
    * verdicts equals the one-shot from-scratch probe — llm82's oracle
    * verbatim — and the grown members equal a rebuild over the full
    * corpus (spec-pinned in SemDedupIndexLifecycleSpec). */
  private[queries] def ensureGrownSemDedupIndex(
      s: org.apache.spark.sql.SparkSession, dir: String): String = {
    val root = graft.TmpDirs.scoped("graft-semgrw-" + graft.TmpDirs.pathKey(dir))
    val marker = new java.io.File(s"$root/_GROWN")
    buildOnce(root)(marker.exists()) {
      val emb = Tables.load(s, dir, "embeddings")
      val idx = s"$root/index"
      Dedup.buildSemDedupIndex(emb.filter(col("vec_id") % 10 =!= 0), idx,
        "embedding", "vec_id",
        seeds = emb.filter(col("vec_id") % 25 === 0),
        seedId = "vec_id", seedEmb = "embedding")
      val arrivals = emb.filter(col("vec_id") % 10 === 0)
      val cut = arrivals.agg(max(col("vec_id"))).head().getLong(0) / 2
      Seq(arrivals.filter(col("vec_id") <= cut),
          arrivals.filter(col("vec_id") > cut)).zipWithIndex.foreach {
        case (b, i) =>
          Dedup.appendToSemDedupIndex(s, idx, b, "embedding", "vec_id",
              threshold = 0.40)
            .write.mode("overwrite").parquet(s"$root/verdicts/b=$i")
      }
      marker.createNewFile()
    }
    root
  }

  /** The llm84 TAKEDOWN semantic-dedup index: built over the FULL
    * embeddings table, then the vec_id %% 5 == 0 population deleted
    * (`Dedup.deleteFromSemDedupIndex` — touched cells rewritten, the
    * rest untouched). The query re-probes the deleted population every
    * run, so the post-delete serving path itself is what the oracle
    * hash-checks: verdicts must equal a from-scratch index over the
    * remaining corpus. */
  private[queries] def ensureTakedownSemDedupIndex(
      s: org.apache.spark.sql.SparkSession, dir: String): String = {
    val root = graft.TmpDirs.scoped("graft-semtkd-" + graft.TmpDirs.pathKey(dir))
    val idx = s"$root/index"
    val marker = new java.io.File(s"$root/_TAKEN_DOWN")
    buildOnce(root)(marker.exists()) {
      val emb = Tables.load(s, dir, "embeddings")
      Dedup.buildSemDedupIndex(emb, idx, "embedding", "vec_id",
        seeds = emb.filter(col("vec_id") % 25 === 0),
        seedId = "vec_id", seedEmb = "embedding")
      Dedup.deleteFromSemDedupIndex(s, idx,
        emb.filter(col("vec_id") % 5 === 0).select(col("vec_id")), "vec_id")
      marker.createNewFile()
    }
    idx
  }

  /** The llm86 REBUILT semantic-dedup index: llm83's grow recipe
    * (build over the %%10!=0 corpus, append the rest in two batches),
    * then `rebuildSemDedupIndex` re-trains the quantizer from the live
    * members and re-assigns everything — the drift escape, run once per
    * JVM under the usual marker discipline. */
  private[queries] def ensureRebuiltSemDedupIndex(
      s: org.apache.spark.sql.SparkSession, dir: String): String = {
    val root = graft.TmpDirs.scoped("graft-semrbl-" + graft.TmpDirs.pathKey(dir))
    val marker = new java.io.File(s"$root/_REBUILT")
    buildOnce(root)(marker.exists()) {
      val emb = Tables.load(s, dir, "embeddings")
      val idx = s"$root/index"
      Dedup.buildSemDedupIndex(emb.filter(col("vec_id") % 10 =!= 0), idx,
        "embedding", "vec_id",
        seeds = emb.filter(col("vec_id") % 25 === 0),
        seedId = "vec_id", seedEmb = "embedding")
      val arrivals = emb.filter(col("vec_id") % 10 === 0)
      val cut = arrivals.agg(max(col("vec_id"))).head().getLong(0) / 2
      Dedup.appendToSemDedupIndex(s, idx,
        arrivals.filter(col("vec_id") <= cut), "embedding", "vec_id",
        threshold = 0.40).collect()
      Dedup.appendToSemDedupIndex(s, idx,
        arrivals.filter(col("vec_id") > cut), "embedding", "vec_id",
        threshold = 0.40).collect()
      Dedup.rebuildSemDedupIndex(s, idx)
      marker.createNewFile()
    }
    root
  }

  /** The str21 STREAMED-INGEST semantic-dedup index: llm82's
    * corpus/quantizer, then the vec_id %% 10 == 0 population arrives as
    * a STREAM and each micro-batch is folded into the index by
    * `StreamOps.semDedupIngestStream` (verdicts persisted per batchId —
    * overwrite-idempotent under replays). The online form of llm83's
    * two-batch growth: any id-monotone slicing converges to the same
    * verdicts and the same final index. */
  private[queries] def ensureStreamedIngestIndex(
      s: org.apache.spark.sql.SparkSession, dir: String): String = {
    val root = graft.TmpDirs.scoped("graft-semsin-" + graft.TmpDirs.pathKey(dir))
    val marker = new java.io.File(s"$root/_INGESTED")
    buildOnce(root)(marker.exists()) {
      val emb = Tables.load(s, dir, "embeddings")
      val idx = s"$root/index"
      Dedup.buildSemDedupIndex(emb.filter(col("vec_id") % 10 =!= 0), idx,
        "embedding", "vec_id",
        seeds = emb.filter(col("vec_id") % 25 === 0),
        seedId = "vec_id", seedEmb = "embedding")
      val arriving = graft.streaming.StreamOps.embeddingsStream(s, dir)
        .filter(col("vec_id") % 10 === 0)
      graft.streaming.EphemeralCkpt.withoutChecksums(s) {
        val q = graft.streaming.StreamOps.semDedupIngestStream(s, idx,
          arriving, "embedding", "vec_id", threshold = 0.40,
          sink = (out, bid) =>
            out.write.mode("overwrite").parquet(s"$root/verdicts/b=$bid"))
        try {
          q.processAllAvailable()
          graft.tools.StreamPlanAudit.record("str21", q)
        } finally q.stop()
      }
      marker.createNewFile()
    }
    root
  }

  /** The str19 cluster index: built over the FULL corpus, then the
    * doc_id %% 10 == 7 population STREAMED as takedown requests and
    * removed per micro-batch by a foreachBatch deleteFromClusterIndex —
    * the online form of llm75's takedown lifecycle (opt-out/PII-purge
    * requests arriving as a stream, the index maintained as they land).
    * Deletes compose under full-rebuild equivalence (each removes its
    * batch's docs and re-splits exactly the affected clusters), so any
    * micro-batch slicing converges to the from-scratch closure over the
    * remaining corpus — llm75's oracle verbatim. A replay of a
    * committed delete batch is a no-op through the liveness-gated
    * marker (ids already dead), so at-least-once delivery converges
    * too. */
  private[queries] def ensureStreamedTakedownIndex(
      s: org.apache.spark.sql.SparkSession, dir: String): String = {
    val root = graft.TmpDirs.scoped("graft-cltds2-" + graft.TmpDirs.pathKey(dir))
    val marker = new java.io.File(s"$root/_TAKEN_DOWN")
    buildOnce(root)(marker.exists()) {
      val docs = Tables.load(s, dir, "documents")
      Dedup.buildClusterIndex(docs, s"$root/index", threshold = 0.8)
      val requests = graft.streaming.StreamOps.documentsStream(s, dir)
        .filter(col("doc_id") % 10 === 7)
        .select(col("doc_id"))
      val q = requests.writeStream
        .option("checkpointLocation", s"$root/ckpt")
        .foreachBatch {
          (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
              _: Long) =>
            Dedup.deleteFromClusterIndex(s, s"$root/index", batch.toDF())
        }
        .start()
      try {
        q.processAllAvailable()
        graft.tools.StreamPlanAudit.record("str19", q)
      } finally q.stop()
      marker.createNewFile()
    }
    s"$root/index"
  }

  /** The pid-scoped persisted near-dup band index of `dir`'s corpus
    * half, built ONCE per JVM (the build-once lifecycle the operator
    * exists to demonstrate — rebuilding per query would re-sign the
    * whole corpus each run). Keyed on a 128-bit digest of the data dir;
    * the index log's head is the built-ness marker: the build commits
    * buckets, shingles and parameters together, so a half-built index
    * is never trusted. */
  private def ensureNearDupIndex(s: org.apache.spark.sql.SparkSession,
      dir: String): String = {
    val idx = graft.TmpDirs.scoped("graft-ndidx-" + graft.TmpDirs.pathKey(dir))
    buildOnce(idx)(graft.ops.IndexLog.head(s, idx).isDefined) {
      Dedup.buildNearDupIndex(
        Tables.load(s, dir, "documents").filter(col("doc_id") % 10 =!= 0), idx)
    }
    idx
  }

  val defs: Seq[QDef] = Seq(

    // Simpson (Herfindahl) token-diversity index — the rational cousin of
    // Shannon entropy (no libm log, so bit-portable): 1 - Σc²/T². Low
    // diversity flags repetitive/boilerplate docs, complementing llm35's
    // top-token ratio
    QDef("llm37_token_diversity",
      """WITH c AS (
        |  SELECT doc_id, term, COUNT(*) AS c
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
        |  GROUP BY 1, 2)
        |SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
        |  CAST(SUM(c * c) AS BIGINT) AS sum_c2,
        |  1.0 - CAST(SUM(c * c) AS DOUBLE)
        |    / CAST(CAST(SUM(c) AS BIGINT) * CAST(SUM(c) AS BIGINT) AS DOUBLE) AS diversity
        |FROM c GROUP BY doc_id""".stripMargin) { (s, dir) =>
      TextAnalysis.simpsonDiversity(Tables.load(s, dir, "documents"), "text", "doc_id")
    },

    // deterministic weighted sampling (priority = content_hash / weight,
    // k smallest): longer docs are proportionally more likely to be kept,
    // the sample is reproducible and duplicate-consistent, and the global
    // top-k plans as TakeOrderedAndProject (bounded heaps, no global sort)
    QDef("llm38_weighted_sample",
      s"""SELECT doc_id, n_chars,
         |  CAST($hashSql AS DOUBLE) / CAST(n_chars AS DOUBLE) AS priority
         |FROM documents
         |ORDER BY priority, doc_id LIMIT 50""".stripMargin) { (s, dir) =>
      TextAnalysis.weightedPrioritySample(Tables.load(s, dir, "documents"),
          "text", "n_chars", "doc_id", k = 50)
        .select(col("doc_id"), col("n_chars"), col("priority"))
    },

    // per-language tokenizer fertility: subword/word ratio and
    // chars/token by lang — the datasheet cut that decides whether a
    // tokenizer underserves a language. Single scan, one tiny shuffle;
    // ratios are single divisions of exact bigint sums (bit-portable)
    QDef("llm40_lang_fertility",
      """SELECT lang, COUNT(*) AS n_docs,
        |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_words,
        |  CAST(SUM(len(string_split_regex(
        |    regexp_replace(regexp_replace(text,
        |      '([a-z])([0-9])', '\1' || chr(1) || '\2', 'g'),
        |      '([0-9])([a-z])', '\1' || chr(1) || '\2', 'g'),
        |    '[^a-z0-9]+'))) AS BIGINT) AS total_subwords,
        |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
        |  CAST(CAST(SUM(len(string_split_regex(
        |    regexp_replace(regexp_replace(text,
        |      '([a-z])([0-9])', '\1' || chr(1) || '\2', 'g'),
        |      '([0-9])([a-z])', '\1' || chr(1) || '\2', 'g'),
        |    '[^a-z0-9]+'))) AS BIGINT) AS DOUBLE)
        |    / CAST(CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS DOUBLE) AS fertility,
        |  CAST(CAST(SUM(n_chars) AS BIGINT) AS DOUBLE)
        |    / CAST(CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS DOUBLE) AS chars_per_word
        |FROM documents GROUP BY lang""".stripMargin) { (s, dir) =>
      val words = sum(size(TextAnalysis.tokens(col("text")))).cast("bigint")
      val subwords = sum(size(TextAnalysis.bpeishTokens(col("text")))).cast("bigint")
      val chars = sum(col("n_chars")).cast("bigint")
      Tables.load(s, dir, "documents").groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          words.as("total_words"), subwords.as("total_subwords"), chars.as("total_chars"),
          (subwords.cast("double") / words.cast("double")).as("fertility"),
          (chars.cast("double") / words.cast("double")).as("chars_per_word"))
    },

    // multimodal pair packing: caption tokens + image ViT-style patch
    // count (ceil(w/32)·ceil(h/32) from the media metadata) form the
    // per-pair cost, packed into 1024-slot batches by the distributed
    // two-level cumsum (ops.Packing) — the batch-assembly step of a
    // vision-language pipeline. Oracle = the naive global-window form
    QDef("llm43_multimodal_pairs",
      """SELECT doc_id, n_tokens,
        |  CAST((cum - n_tokens) // 1024 AS BIGINT) AS seq_id,
        |  CAST((cum - n_tokens) % 1024 AS BIGINT) AS seq_offset
        |FROM (SELECT doc_id, cost AS n_tokens,
        |    SUM(cost) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM (SELECT doc_id,
        |      CAST(len(string_split(text, ' '))
        |        + ((doc_id % 640 + 32 + 31) // 32)
        |          * ((doc_id % 480 + 32 + 31) // 32) AS BIGINT) AS cost
        |    FROM documents))""".stripMargin) { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      val media = graft.ops.Multimodal.mediaTable(docs)
      val paired = docs.select(col("doc_id"), col("text"))
        .join(media.select(col("media_id"), col("meta")),
          col("doc_id") === col("media_id"))
      val patches = expr("((meta.width + 31) div 32) * ((meta.height + 31) div 32)")
      val cost = size(TextAnalysis.tokens(col("text"))) + patches
      graft.ops.Packing.packSequences(paired, "doc_id", cost,
        capacity = 1024L, bucketSize = 64L)
    },

    // train/val contamination audit: fraction of each val doc's distinct
    // 5-gram shingles that occur anywhere in train (same content-hash
    // split as llm28, so the audit reproduces the split it checks); the
    // one shuffle is the equi-join on the shingle string
    QDef("llm39_contamination",
      s"""WITH sp AS (
         |  SELECT doc_id, string_split(text, ' ') AS tk,
         |    CASE WHEN $hashSql % 100 < 80 THEN 'train'
         |         WHEN $hashSql % 100 < 90 THEN 'val'
         |         ELSE 'test' END AS split
         |  FROM documents),
         |sh AS (
         |  SELECT doc_id, split, unnest(
         |    CASE WHEN len(tk) < 5 THEN [array_to_string(tk, ' ')]
         |         ELSE list_transform(range(0, len(tk) - 4),
         |                i -> array_to_string(tk[i + 1 : i + 5], ' ')) END) AS sh
         |  FROM sp),
         |train_sh AS (SELECT DISTINCT sh FROM sh WHERE split = 'train'),
         |val_sh AS (SELECT DISTINCT doc_id, sh FROM sh WHERE split = 'val')
         |SELECT v.doc_id, COUNT(*) AS n_shingles,
         |  COUNT(t.sh) AS n_contaminated,
         |  CAST(COUNT(t.sh) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS contamination_rate
         |FROM val_sh v LEFT JOIN train_sh t ON v.sh = t.sh
         |GROUP BY v.doc_id""".stripMargin) { (s, dir) =>
      TextAnalysis.crossSplitContamination(Tables.load(s, dir, "documents"),
        "text", "doc_id", Seq("train" -> 80, "val" -> 10, "test" -> 10),
        trainSplit = "train", evalSplit = "val", shingleN = 5)
    },

    // incremental near-dup: every tenth doc arrives as a NEW batch and
    // is matched against the remaining corpus via its persisted LSH band
    // index (corpus×corpus pairs never re-form — the growing-corpus
    // production shape). Oracle = the zero-false-negative prefix-filter
    // join restricted to pairs touching the batch; greenness asserts the
    // 8x2 banding's empirical recall 1, exactly like llm08.
    QDef("llm44_incremental_neardup",
      s"""WITH ${OracleSql.prefixFilterCtes(0.8)}
         |${OracleSql.verifiedPairsSelect(0.8,
             extraWhere = " AND (id_a % 10 = 0 OR id_b % 10 = 0)")}""".stripMargin) { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      Dedup.incrementalNearDup(
        corpus = docs.filter(col("doc_id") % 10 =!= 0),
        batch = docs.filter(col("doc_id") % 10 === 0),
        "text", "doc_id", threshold = 0.8)
    },

    // the same incremental dedup against a PREBUILT persisted index
    // (build ONCE on files — ensureNearDupIndex guards with the marker —
    // dedup every later batch with zero corpus recompute, the
    // cross-session lifecycle llm45 demonstrates for ANN): identical
    // results to llm44, so the same oracle holds
    QDef("llm46_neardup_from_index",
      s"""WITH ${OracleSql.prefixFilterCtes(0.8)}
         |${OracleSql.verifiedPairsSelect(0.8,
             extraWhere = " AND (id_a % 10 = 0 OR id_b % 10 = 0)")}""".stripMargin) { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      val idx = ensureNearDupIndex(s, dir)
      Dedup.incrementalNearDupFromIndex(s, idx,
        docs.filter(col("doc_id") % 10 === 0), threshold = 0.8)
    },

    // cross-doc duplicated 8-token spans (span-level exact dedup, the
    // Lee-et-al "deduplicating training data" phenomenon): one explode +
    // one string-keyed aggregation, replayed exactly by DuckDB's
    // list_transform slices. At 100 TB the group key becomes a 128-bit
    // span hash (see Dedup.duplicatedSpans scaladoc)
    QDef("llm48_span_dupes",
      """WITH tk AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |sp AS (SELECT doc_id, unnest(list_transform(range(0, len(tk) - 7),
        |    i -> array_to_string(tk[i + 1 : i + 8], ' '))) AS span
        |  FROM tk WHERE len(tk) >= 8)
        |SELECT span, COUNT(DISTINCT doc_id) AS n_docs, COUNT(*) AS n_occ,
        |  MIN(doc_id) AS first_doc
        |FROM sp GROUP BY span HAVING COUNT(DISTINCT doc_id) >= 2""".stripMargin) { (s, dir) =>
      Dedup.duplicatedSpans(Tables.load(s, dir, "documents"), "text", "doc_id", w = 8)
    },

    // per-doc coverage by cross-doc duplicated spans, overlaps merged
    // (gaps-and-islands; the window partitions BY DOC — no global
    // window): the score a span-level dedup pipeline thresholds on.
    // hashSpans=true runs the 100 TB shuffle form (128-bit span-hash
    // keys, 16 bytes/span); the DuckDB oracle replays the span-STRING
    // semantics — identical output barring a double-xxhash64 collision,
    // so the driver's hash compare exercises the production path
    QDef("llm49_span_coverage",
      """WITH tk AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |sp AS (SELECT doc_id, unnest(range(0, len(tk) - 7)) AS s, tk
        |  FROM tk WHERE len(tk) >= 8),
        |sp2 AS (SELECT doc_id, s, array_to_string(tk[s + 1 : s + 8], ' ') AS span FROM sp),
        |dup AS (SELECT span FROM sp2 GROUP BY span HAVING COUNT(DISTINCT doc_id) >= 2),
        |occ AS (SELECT doc_id, s AS st, s + 8 AS en FROM sp2
        |  WHERE span IN (SELECT span FROM dup)),
        |m AS (SELECT doc_id, st, en,
        |    MAX(en) OVER (PARTITION BY doc_id ORDER BY st, en
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
        |  FROM occ),
        |isl AS (SELECT doc_id, st, en,
        |    SUM(CASE WHEN prev_max IS NULL OR st > prev_max THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY doc_id ORDER BY st, en ROWS UNBOUNDED PRECEDING) AS island
        |  FROM m),
        |cov AS (SELECT doc_id, island, MAX(en) - MIN(st) AS c FROM isl GROUP BY 1, 2),
        |agg AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS dup_tokens FROM cov GROUP BY 1)
        |SELECT d.doc_id, CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
        |  COALESCE(a.dup_tokens, 0) AS dup_tokens,
        |  CAST(COALESCE(a.dup_tokens, 0) AS DOUBLE)
        |    / CAST(len(string_split(d.text, ' ')) AS DOUBLE) AS dup_ratio
        |FROM documents d LEFT JOIN agg a USING (doc_id)""".stripMargin) { (s, dir) =>
      Dedup.spanDupCoverage(Tables.load(s, dir, "documents"), "text", "doc_id",
        w = 8, hashSpans = true)
    },

    // semantic dedup (SemDeDup): Voronoi-quantize on every-25th doc's
    // embedding (a fixed seed rule both engines replay; the trained-
    // k-means variant swaps in kmeansCentroids, same plan), then prune
    // cosine >= 0.40 near-dups within each cluster. Fixed-order fold
    // cosine = the llm10/llm11 bit-portable construction
    QDef("llm50_semdedup", {
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
         |  FROM asg a JOIN asg b ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id),
         |dup AS (SELECT DISTINCT p.id_b AS vec_id FROM pairs p
         |  JOIN embeddings ea ON p.id_a = ea.vec_id
         |  JOIN embeddings eb ON p.id_b = eb.vec_id
         |  WHERE ${cos("ea.embedding", "eb.embedding")} >= 0.40)
         |SELECT g.vec_id, g.cluster_id, (d.vec_id IS NOT NULL) AS is_dup
         |FROM asg g LEFT JOIN dup d ON g.vec_id = d.vec_id""".stripMargin
    }) { (s, dir) =>
      val emb = Tables.load(s, dir, "embeddings")
      Dedup.semDedup(emb, "embedding", "vec_id",
        seeds = emb.filter(col("vec_id") % 25 === 0),
        seedId = "vec_id", seedEmb = "embedding", threshold = 0.40)
    },

    // count-based bigram LM quality score (CCNet-style statistical
    // filter, log-free): mean P(w2|w1) under the corpus's own bigram
    // counts. Every probability is one integer-ratio division and the
    // per-doc mean folds in POSITION order (list ORDER BY pos ==
    // sort_array(struct(pos, pr))), so the double is bit-identical
    QDef("llm51_bigram_lm",
      """WITH tk AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |bg AS (SELECT doc_id, unnest(range(0, len(tk) - 1)) AS pos, tk
        |  FROM tk WHERE len(tk) >= 2),
        |bg2 AS (SELECT doc_id, pos, tk[pos + 1] AS w1, tk[pos + 2] AS w2 FROM bg),
        |bc AS (SELECT w1, w2, COUNT(*) AS c2 FROM bg2 GROUP BY 1, 2),
        |uc AS (SELECT w1, COUNT(*) AS c1 FROM bg2 GROUP BY 1),
        |p AS (SELECT g.doc_id, g.pos, CAST(bc.c2 AS DOUBLE) / CAST(uc.c1 AS DOUBLE) AS pr
        |  FROM bg2 g JOIN bc USING (w1, w2) JOIN uc USING (w1)),
        |s AS (SELECT doc_id, list(pr ORDER BY pos) AS ps FROM p GROUP BY 1)
        |SELECT doc_id, CAST(len(ps) AS BIGINT) AS n_bigrams,
        |  list_reduce([CAST(0.0 AS DOUBLE)] || ps, (a, b) -> a + b)
        |    / CAST(len(ps) AS DOUBLE) AS lm_score
        |FROM s""".stripMargin) { (s, dir) =>
      TextAnalysis.bigramLmScore(Tables.load(s, dir, "documents"), "text", "doc_id")
    },

    // stratified deterministic sample: 20 docs per language by
    // content-hash priority — reproducible, duplicate-consistent, and
    // the rank filter plans as WindowGroupLimit (bounded per-group
    // heaps before the shuffle; plan pinned in spec)
    QDef("llm52_stratified_sample",
      s"""SELECT lang, doc_id, priority FROM (
         |  SELECT lang, doc_id, $hashSql AS priority,
         |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY $hashSql, doc_id) AS rn
         |  FROM documents) WHERE rn <= 20""".stripMargin) { (s, dir) =>
      TextAnalysis.stratifiedSample(Tables.load(s, dir, "documents"),
        "text", "lang", "doc_id", k = 20)
    },

    // vocabulary coverage: top-50 corpus vocab (count desc, token asc —
    // deterministic boundary) and per-doc out-of-vocabulary rate, the
    // audit before fixing a training vocab
    QDef("llm53_vocab_oov",
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
        |cnt AS (SELECT t, COUNT(*) AS c FROM tok GROUP BY 1),
        |vocab AS (SELECT t FROM cnt ORDER BY c DESC, t LIMIT 50),
        |j AS (SELECT tok.doc_id, COUNT(*) AS n_tokens,
        |    COUNT(*) FILTER (WHERE v.t IS NULL) AS n_oov
        |  FROM tok LEFT JOIN vocab v USING (t) GROUP BY tok.doc_id)
        |SELECT doc_id, n_tokens, n_oov,
        |  CAST(n_oov AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS oov_rate
        |FROM j""".stripMargin) { (s, dir) =>
      TextAnalysis.vocabOovRate(Tables.load(s, dir, "documents"),
        "text", "doc_id", vocabSize = 50)
    },

    // curation pipeline v2 — the session's new operators composed
    // end-to-end, every stage oracle-replayed: collapse consecutive
    // repeats -> span-duplication coverage over the CLEANED text ->
    // drop docs that are >= 50% recycled cross-doc spans -> per-lang
    // release datasheet. Demonstrates the ops compose without
    // re-tokenization drift (the oracle folds the same stages)
    QDef("llm54_curation_pipeline",
      """WITH cl AS (
        |  SELECT doc_id, lang,
        |    list_filter(string_split(text, ' '),
        |      (x, i) -> i = 1 OR x <> string_split(text, ' ')[i - 1]) AS tk
        |  FROM documents),
        |sp AS (SELECT doc_id, unnest(range(0, len(tk) - 7)) AS s, tk
        |  FROM cl WHERE len(tk) >= 8),
        |sp2 AS (SELECT doc_id, s, array_to_string(tk[s + 1 : s + 8], ' ') AS span FROM sp),
        |dup AS (SELECT span FROM sp2 GROUP BY span HAVING COUNT(DISTINCT doc_id) >= 2),
        |occ AS (SELECT doc_id, s AS st, s + 8 AS en FROM sp2
        |  WHERE span IN (SELECT span FROM dup)),
        |m AS (SELECT doc_id, st, en,
        |    MAX(en) OVER (PARTITION BY doc_id ORDER BY st, en
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max FROM occ),
        |isl AS (SELECT doc_id, st, en,
        |    SUM(CASE WHEN prev_max IS NULL OR st > prev_max THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY doc_id ORDER BY st, en ROWS UNBOUNDED PRECEDING) AS island
        |  FROM m),
        |cov AS (SELECT doc_id, island, MAX(en) - MIN(st) AS c FROM isl GROUP BY 1, 2),
        |agg AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS dup_tokens FROM cov GROUP BY 1),
        |scored AS (SELECT cl.doc_id, cl.lang, len(cl.tk) AS n_tokens,
        |    COALESCE(a.dup_tokens, 0) AS dup_tokens
        |  FROM cl LEFT JOIN agg a USING (doc_id)),
        |kept AS (SELECT * FROM scored
        |  WHERE CAST(dup_tokens AS DOUBLE) / CAST(n_tokens AS DOUBLE) < 0.5)
        |SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
        |  CAST(SUM(dup_tokens) AS BIGINT) AS residual_dup_tokens
        |FROM kept GROUP BY lang""".stripMargin) { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      // spanDupCoverage executes its input frame three times (dup agg,
      // hits join, n_tokens), so `cleaned` is materialized ONCE with an
      // eager checkpoint: collapseRepeats' interpreted filter-lambda
      // over every token is the expensive part, and re-running it 3x
      // measured 4.7 s vs 3.0 s when the old pre-coverage lang join
      // accidentally served as a shuffle-reuse barrier. The checkpoint
      // gets the reuse without the join in the hot path; lang joins
      // AFTER coverage against one small row per doc — the 100 TB
      // shape (compact doc rows are the cheap thing to persist).
      val cleaned = TextAnalysis.collapseRepeats(docs).localCheckpoint(true)
      Dedup.spanDupCoverage(cleaned, "clean_text", "doc_id", w = 8)
        .filter(col("dup_ratio") < 0.5)
        .join(docs.select(col("doc_id"), col("lang")), "doc_id")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).cast("bigint").as("total_tokens"),
          sum(col("dup_tokens")).cast("bigint").as("residual_dup_tokens"))
    },

    // deterministic sampling to a TOKEN budget (the data-mixture knob:
    // "N tokens of this source"): content-hash-priority prefix whose
    // running token total stays within budget. The oracle IS the naive
    // single-window global cumsum; the engine runs the two-level
    // bucket cumsum with budget-pruned buckets (only ~budget worth of
    // docs reach the per-row window at any corpus size)
    QDef("llm55_token_budget",
      s"""WITH t AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         |    $hashSql AS priority
         |  FROM documents),
         |c AS (SELECT doc_id, n_tokens, priority,
         |    SUM(n_tokens) OVER (ORDER BY priority, doc_id
         |      ROWS UNBOUNDED PRECEDING) AS cum_tokens
         |  FROM t)
         |SELECT doc_id, n_tokens, priority, CAST(cum_tokens AS BIGINT) AS cum_tokens
         |FROM c WHERE cum_tokens <= 5000""".stripMargin) { (s, dir) =>
      TextAnalysis.tokenBudgetSample(Tables.load(s, dir, "documents"),
        "text", "doc_id", budget = 5000L)
    },

    // the per-source mixture form: one token budget per group ("4000
    // tokens of en, 1500 of zh, 800 of de"; fr/es unlisted -> dropped),
    // each group taking its own hash-priority prefix. Oracle = the
    // naive per-group window cumsum
    QDef("llm56_token_mixture",
      s"""WITH b(lang, budget) AS (VALUES ('en', 4000), ('zh', 1500), ('de', 800)),
         |t AS (SELECT d.lang, doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         |    $hashSql AS priority, b.budget
         |  FROM documents d JOIN b USING (lang)),
         |c AS (SELECT lang, doc_id, n_tokens, priority, budget,
         |    SUM(n_tokens) OVER (PARTITION BY lang ORDER BY priority, doc_id
         |      ROWS UNBOUNDED PRECEDING) AS cum_tokens
         |  FROM t)
         |SELECT lang, doc_id, n_tokens, priority, CAST(cum_tokens AS BIGINT) AS cum_tokens
         |FROM c WHERE cum_tokens <= budget""".stripMargin) { (s, dir) =>
      TextAnalysis.tokenBudgetMixture(Tables.load(s, dir, "documents"),
        "text", "doc_id", "lang",
        budgets = Map("en" -> 4000L, "zh" -> 1500L, "de" -> 800L))
    },

    // REAL audio pipeline: encode genuine RIFF/PCM WAVs (JDK
    // javax.sound.sampled), decode the 16-bit samples per partition,
    // compute integer signal stats (sum |amplitude|, zero crossings,
    // peak — the cheap quality gates an audio training pipeline runs
    // before a model pass). Samples are a pure integer function of
    // (media_id, k) and PCM is lossless, so the oracle recomputes every
    // decoded sample exactly — the audio twin of llm12's pixel check.
    // DuckDB lists are 1-based: s[k] for k in range(1, n) pairs each
    // sample with its successor s[k+1], replaying Spark's 0-based
    // consecutive-pair sign test
    QDef("llm57_audio_features",
      """WITH g AS (SELECT doc_id AS media_id,
        |    CAST(doc_id % 50 + 20 AS BIGINT) AS n
        |  FROM documents),
        |v AS (SELECT media_id, n,
        |    list_transform(range(0, n), k -> (73*media_id + 37*k) % 4096 - 2048) AS s
        |  FROM g)
        |SELECT media_id, CAST(n AS INTEGER) AS n_samples,
        |  CAST(list_aggregate(list_transform(s, x -> abs(x)), 'sum') AS BIGINT) AS sum_abs,
        |  CAST(len(list_filter(range(1, n), k -> s[k] * s[k + 1] < 0)) AS INTEGER) AS zero_crossings,
        |  CAST(list_aggregate(list_transform(s, x -> abs(x)), 'max') AS INTEGER) AS peak
        |FROM v""".stripMargin) { (s, dir) =>
      val audio = graft.ops.Multimodal.audioTable(Tables.load(s, dir, "documents"))
      graft.ops.Multimodal.audioFeatures(audio)
        .select(col("media_id"), col("n_samples"), col("sum_abs"),
          col("zero_crossings"), col("peak"))
    },

    // REAL video pipeline: each doc's clip is a genuine RIFF/AVI
    // container of real JPEG frames (MJPEG — both formats produced and
    // parsed by the JDK); keyframe extraction walks the RIFF chunks and
    // decodes every frame per partition. JPEG is lossy, so decoded
    // channel means are checked against the solid-color source formula
    // as BOUND BOOLEANS (|mean − target| ≤ 4) — the exact+bound oracle
    // pattern of q47/q61: the oracle pins frame counts, dims, and that
    // every bound holds; a broken container walk or decode flips a
    // boolean and the hash mismatches
    QDef("llm58_video_frames",
      """WITH g AS (SELECT doc_id AS media_id, doc_id % 3 + 2 AS nf,
        |    CAST(doc_id % 6 + 8 AS INTEGER) AS w, CAST(doc_id % 4 + 8 AS INTEGER) AS h
        |  FROM documents),
        |f AS (SELECT media_id, w, h, unnest(range(0, nf)) AS fi FROM g)
        |SELECT media_id, CAST(fi AS INTEGER) AS frame_idx, w AS width, h AS height,
        |  TRUE AS color_ok
        |FROM f""".stripMargin) { (s, dir) =>
      val video = graft.ops.Multimodal.videoTable(Tables.load(s, dir, "documents"))
      val vf = graft.ops.Multimodal.videoFrames(video)
      def target(mult: Int, add: Int) =
        lit(32) + pmod(lit(mult) * col("media_id") + lit(add) * col("frame_idx"), lit(192))
      vf.select(col("media_id"), col("frame_idx"), col("width"), col("height"),
        (abs(col("mean_r") - target(7, 29)) <= 4.0 &&
          abs(col("mean_g") - target(11, 31)) <= 4.0 &&
          abs(col("mean_b") - target(13, 37)) <= 4.0).as("color_ok"))
    },

    // content-addressable image dedup: hash the DECODED pixels, not the
    // encoded bytes — the same picture re-encoded by a different
    // compressor byte-differs but pixel-matches (byte-hash dedup misses
    // every such copy). Spark decodes real PNGs and folds the portable
    // polynomial over (w, h, r,g,b scan order); the oracle replays the
    // identical fold over the pixel formula with list_reduce (DuckDB's
    // first element seeds the accumulator, matching mix(w) first). Ids
    // ≡ (mod 768) produce pixel-identical images (the channel formulas
    // share period 256, dims 8 and 6 → lcm 768), so duplicate groups
    // exist at sf ≥ 0.01 and the min-id survivor is pinned
    QDef("llm59_image_content_dedup",
      """WITH g AS (SELECT doc_id AS media_id,
        |    CAST(doc_id % 8 + 2 AS BIGINT) AS w, CAST(doc_id % 6 + 2 AS BIGINT) AS h
        |  FROM documents),
        |v AS (SELECT media_id,
        |    list_reduce(
        |      list_concat([w, h],
        |        flatten(list_transform(range(0, h), y ->
        |          flatten(list_transform(range(0, w), x ->
        |            [(7*media_id + 3*x + 5*y) % 256,
        |             (11*media_id + 17*x + 23*y) % 256,
        |             (29*media_id + 13*x + 19*y) % 256]))))),
        |      (a, b) -> (a * 131 + b) % 2147483647) AS content_hash
        |  FROM g)
        |SELECT media_id, content_hash,
        |  MIN(media_id) OVER (PARTITION BY content_hash) AS canon_id,
        |  media_id <> MIN(media_id) OVER (PARTITION BY content_hash) AS is_dup
        |FROM v""".stripMargin) { (s, dir) =>
      val media = graft.ops.Multimodal.imageTable(Tables.load(s, dir, "documents"))
      graft.ops.Multimodal.imageContentDedup(media)
        .select(col("media_id"), col("content_hash"), col("canon_id"), col("is_dup"))
    },

    // Gopher-style repetition fractions (top-bigram share + duplicated
    // 5-gram share): the oracle recovers the same numbers via (doc,
    // gram) grouped counts, while the engine's narrow run-length-over-
    // sorted-array form never shuffles — two independent formulations
    // of the same integer ratios
    QDef("llm60_repetition_signals",
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |g AS (SELECT doc_id, len(tk) AS n_tokens,
        |    list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i + 1]) AS b2,
        |    list_transform(range(1, len(tk) - 3), i ->
        |      tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3] || ' ' || tk[i+4]) AS g5
        |  FROM t),
        |bc AS (SELECT doc_id, gram, COUNT(*) AS c
        |  FROM (SELECT doc_id, unnest(b2) AS gram FROM g) GROUP BY 1, 2),
        |bt AS (SELECT doc_id, MAX(c) AS mx, SUM(c) AS tot FROM bc GROUP BY 1),
        |fc AS (SELECT doc_id, gram, COUNT(*) AS c
        |  FROM (SELECT doc_id, unnest(g5) AS gram FROM g) GROUP BY 1, 2),
        |ft AS (SELECT doc_id, SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) AS dup,
        |    SUM(c) AS tot FROM fc GROUP BY 1)
        |SELECT g.doc_id, CAST(g.n_tokens AS BIGINT) AS n_tokens,
        |  COALESCE(CAST(bt.mx AS DOUBLE) / bt.tot, 0.0) AS top2_frac,
        |  COALESCE(CAST(ft.dup AS DOUBLE) / ft.tot, 0.0) AS dup5_frac
        |FROM g LEFT JOIN bt USING (doc_id) LEFT JOIN ft USING (doc_id)""".stripMargin) {
      (s, dir) =>
        TextAnalysis.repetitionSignals(Tables.load(s, dir, "documents"))
    },

    // two-corpus decontamination: training docs sharing any 8-token
    // gram with the src0 "benchmark" slice, with distinct-gram hit
    // counts — the pass a pretraining corpus runs against each eval
    // suite. The eval gram set broadcasts (benchmarks are tiny next to
    // the corpus), so the corpus side never shuffles pre-aggregation.
    QDef("llm61_decontaminate",
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
      val docs = Tables.load(s, dir, "documents")
      TextAnalysis.decontaminate(
        docs.filter(col("source") =!= "src0"),
        docs.filter(col("source") === "src0"))
    },

    // consecutive-repeat collapse (repetition normalization): DuckDB's
    // 1-based list_filter lambda replays Spark's 0-based filter exactly
    // (both guard the first element, both compare against the previous)
    QDef("llm47_collapse_repeats",
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents)
        |SELECT doc_id,
        |  array_to_string(list_filter(tk, (x, i) -> i = 1 OR x <> tk[i - 1]), ' ') AS clean_text,
        |  CAST(len(tk) - len(list_filter(tk, (x, i) -> i = 1 OR x <> tk[i - 1])) AS BIGINT) AS n_removed
        |FROM t""".stripMargin) { (s, dir) =>
      TextAnalysis.collapseRepeats(Tables.load(s, dir, "documents"))
    },

    // Gopher-style rule gate with per-rule attribution: four integer-
    // arithmetic signals, first failing rule recorded as drop_reason —
    // shuffle-free, map-only at 100 TB
    QDef("llm62_gopher_rules",
      s"""WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS tk FROM documents),
         |m AS (SELECT doc_id,
         |    CAST(len(tk) AS BIGINT) AS n_words,
         |    CAST(length(text) - len(tk) + 1 AS DOUBLE) / CAST(len(tk) AS DOUBLE) AS mean_wlen,
         |    CAST(len(list_intersect(list_distinct(tk),
         |      [${TextAnalysis.StopWords.map("'" + _ + "'").mkString(",")}])) AS INT) AS stop_hits,
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
      TextAnalysis.gopherRules(Tables.load(s, dir, "documents"))
    },

    // corpus data card: the per-(lang, source) mixture-planning report —
    // doc/token counts, exact token-count percentiles, rule-gate
    // survival share; one shuffle on a small grid
    QDef("llm63_corpus_datacard",
      s"""WITH t AS (SELECT doc_id, lang, source, text, string_split(text, ' ') AS tk FROM documents),
         |m AS (SELECT doc_id, lang, source,
         |    CAST(len(tk) AS BIGINT) AS n_words,
         |    CAST(length(text) - len(tk) + 1 AS DOUBLE) / CAST(len(tk) AS DOUBLE) AS mean_wlen,
         |    CAST(len(list_intersect(list_distinct(tk),
         |      [${TextAnalysis.StopWords.map("'" + _ + "'").mkString(",")}])) AS INT) AS stop_hits,
         |    CAST(len(list_distinct(tk)) AS DOUBLE) / CAST(len(tk) AS DOUBLE) AS uniq_ratio
         |  FROM t),
         |r AS (SELECT *,
         |    CASE WHEN n_words < 20 OR n_words > 90 THEN 'word_count'
         |         WHEN mean_wlen < 4.0 OR mean_wlen > 5.1 THEN 'mean_word_length'
         |         WHEN stop_hits < 1 THEN 'stopwords'
         |         WHEN uniq_ratio < 0.35 THEN 'repetition' END AS drop_reason
         |  FROM m)
         |SELECT lang, source,
         |  COUNT(*) AS n_docs,
         |  CAST(SUM(n_words) AS BIGINT) AS n_tokens,
         |  quantile_cont(n_words, 0.5) AS p50_words,
         |  quantile_cont(n_words, 0.95) AS p95_words,
         |  CAST(SUM(CASE WHEN drop_reason IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
         |  CAST(SUM(CASE WHEN drop_reason IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
         |    / CAST(COUNT(*) AS DOUBLE) AS keep_share
         |FROM r GROUP BY lang, source""".stripMargin) { (s, dir) =>
      TextAnalysis.corpusDatacard(Tables.load(s, dir, "documents"))
    },

    // the dedup REPORT: duplicate-cluster size histogram over llm24's
    // canonicalization (how many clusters of each size, how much doc
    // mass they hold — the number a dedup run is judged by before
    // anyone deletes anything). Two tiny aggregations on top of the CC
    // labels; the oracle replays the same transitive closure and
    // aggregates it identically.
    QDef("llm66_dup_cluster_stats",
      s"""WITH RECURSIVE ${OracleSql.closureCtes(0.8)},
        |cl AS (SELECT canon_id, COUNT(*) AS cluster_size FROM lab GROUP BY 1)
        |SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
        |  COUNT(*) AS n_clusters,
        |  CAST(cluster_size * COUNT(*) AS BIGINT) AS n_docs
        |FROM cl GROUP BY cluster_size""".stripMargin) { (s, dir) =>
      Dedup.canonicalize(Tables.load(s, dir, "documents"), "text", "doc_id",
          threshold = 0.8)
        .groupBy(col("canon_id"))
        .agg(count(lit(1)).as("cluster_size"))
        .groupBy(col("cluster_size"))
        .agg(count(lit(1)).as("n_clusters"),
          (col("cluster_size") * count(lit(1))).as("n_docs"))
    },

    // metadata-filtered vector search: exact top-k among corpus vectors
    // satisfying a predicate (label % 3 = 1) — the tenant/category/
    // date-scoped retrieval axis; filter-before-score (pushed to the
    // scan), never post-filter-a-k-deep-result (which under-fills k).
    // Oracle = llm09's bit-portable cosine fold + the same predicate.
    QDef("llm64_knn_filtered", {
      def fold(u: String, v: String, a: String, b: String) =
        s"CASE WHEN least(len($a), len($b)) = 0 THEN 0.0 ELSE list_reduce(list_transform(range(1, least(len($a), len($b)) + 1), i -> CAST($u[i] AS DOUBLE) * CAST($v[i] AS DOUBLE)), (x, y) -> x + y) END"
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS q_emb
         |  FROM embeddings WHERE vec_id % 50 = 0),
         |d AS (SELECT q.query_id, c.vec_id AS neighbor_id,
         |    ${fold("c.embedding", "q.q_emb", "c.embedding", "q.q_emb")} AS dot,
         |    ${fold("c.embedding", "c.embedding", "c.embedding", "q.q_emb")} AS na,
         |    ${fold("q.q_emb", "q.q_emb", "c.embedding", "q.q_emb")} AS nb
         |  FROM embeddings c, q
         |  WHERE c.label % 3 = 1 AND c.vec_id <> q.query_id),
         |sim AS (SELECT query_id, neighbor_id,
         |    CASE WHEN na = 0.0 OR nb = 0.0 THEN 0.0
         |         ELSE dot / (sqrt(na) * sqrt(nb)) END AS sim FROM d)
         |SELECT query_id, neighbor_id, sim, rank FROM (
         |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
         |    ORDER BY sim DESC, neighbor_id) AS INTEGER) AS rank FROM sim)
         |WHERE rank <= 10""".stripMargin
    }) { (s, dir) =>
      val emb = Tables.load(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") % 50 === 0)
      graft.ops.Similarity.filteredTopK(emb, queries, k = 10,
        corpusPred = col("label") % 3 === 1)
    },

    // quality-aware survivor selection: each near-dup cluster keeps its
    // BEST member (distinct-token ratio, tie -> min id), not an
    // arbitrary one — the decision production dedup actually ships.
    // Oracle replays llm66's transitive closure + the same score/window.
    QDef("llm68_best_of_cluster",
      s"""WITH RECURSIVE ${OracleSql.closureCtes(0.8)},
        |sc AS (SELECT doc_id,
        |    CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
        |      / CAST(len(string_split(text, ' ')) AS DOUBLE) AS score
        |  FROM documents)
        |SELECT l.doc_id, l.canon_id, s.score,
        |  (ROW_NUMBER() OVER (PARTITION BY l.canon_id
        |     ORDER BY s.score DESC, l.doc_id) = 1) AS keep
        |FROM lab l JOIN sc s USING (doc_id)""".stripMargin) { (s, dir) =>
      Dedup.bestOfCluster(Tables.load(s, dir, "documents"), "text", "doc_id",
        threshold = 0.8)
    },

    // the persisted CLUSTER INDEX: the CC family's build-once/serve-many
    // form (Dedup.buildClusterIndex) — the transitive closure runs once
    // at build time and this query SERVES the per-doc verdict
    // (cluster label, size, score, survivor decision) from the parquet
    // index; the oracle re-derives all four from scratch, so a stale or
    // mis-built index hash-mismatches. The production shape at 100 TB:
    // downstream curation never re-pays the closure.
    QDef("llm73_cluster_index_serve",
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
      val idx = ensureClusterIndex(s, dir)
      IndexLog.snapshot(s, idx).frame("verdicts")
        .select(col("doc_id"), col("canon_id"), col("cluster_size"),
          col("score"), col("keep"))
    },

    // INCREMENTAL cluster-index maintenance: llm73's index built over
    // 90% of the corpus, the held-out 10% folded in with
    // appendToClusterIndex (exact prefix-filter candidates against the
    // persisted inverted index, driver union-find over the
    // batch-bounded edges, affected clusters relabeled/recounted, the
    // corpus never re-paired). FULL-REBUILD EQUIVALENCE is the
    // operator's contract — so the oracle recomputes the whole closure
    // from scratch over ALL documents, and any divergence (a missed
    // cross edge, a stale size, an unmerged bridge) hash-mismatches.
    QDef("llm74_cluster_index_append",
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
      val idx = ensureAppendedClusterIndex(s, dir)
      IndexLog.snapshot(s, idx).frame("verdicts")
        .select(col("doc_id"), col("canon_id"), col("cluster_size"),
          col("score"), col("keep"))
    },

    // cluster-index DELETION: llm73's index built over the full corpus,
    // then every doc_id % 10 == 7 doc removed with
    // deleteFromClusterIndex — the takedown/retention half of the
    // incremental lifecycle (opt-outs, license revocations, PII
    // purges). Removing a doc can SPLIT its cluster (a deleted bridge),
    // so connectivity recomputes over the affected clusters' remaining
    // members — and full-rebuild equivalence is the contract, so the
    // oracle recomputes the whole closure from scratch over the
    // REMAINING corpus: a phantom edge through a deleted doc, a stale
    // size, or an unsplit bridge hash-mismatches.
    QDef("llm75_cluster_index_delete",
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
      val idx = ensureDeletedClusterIndex(s, dir)
      IndexLog.snapshot(s, idx).frame("verdicts")
        .select(col("doc_id"), col("canon_id"), col("cluster_size"),
          col("score"), col("keep"))
    },

    // EXACT containment self-join — the asymmetric near-dup Jaccard
    // structurally misses: a short doc embedded in a longer one (page +
    // boilerplate shell, quote + source article, chunk + full text) has
    // jaccard ≈ |A|/|B| even when EVERY shingle of A appears in B,
    // while containment |A∩B|/|A| reads ~1. Prefix filter on the
    // contained side only (the pigeonhole bound transfers; no bound
    // exists on the container side), probed against the full inverted
    // index. The oracle replays the same candidate algebra over the
    // shared CTEs; the zero-false-negative property is pinned against a
    // brute all-pairs reference in DedupPropertySpec.
    QDef("llm76_containment_dedup",
      s"""WITH ${OracleSql.prefixFilterCtes(0.8)},
         |cc AS (SELECT DISTINCT p.doc_id AS a, i.doc_id AS b
         |  FROM pre p JOIN inv i ON p.shingle = i.shingle AND p.doc_id <> i.doc_id)
         |SELECT a AS contained_id, b AS container_id, c AS containment FROM (
         |  SELECT a, b, CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
         |      / CAST(len(sa.s) AS DOUBLE) AS c
         |  FROM cc JOIN sh0 sa ON cc.a = sa.doc_id JOIN sh0 sb ON cc.b = sb.doc_id)
         |WHERE c >= 0.8""".stripMargin) { (s, dir) =>
      Dedup.containmentSelfJoinExact(Tables.load(s, dir, "documents"),
        "text", "doc_id", threshold = 0.8)
    },

    // containment-aware curation: drop every doc contained (>= 0.8 of
    // its shingles) in a STRICTLY longer doc, ties to the smaller
    // container id — one-pass greedy, so mutual-containment pairs keep
    // exactly one member. The survivor set llm76's detection feeds.
    QDef("llm78_containment_prune",
      s"""WITH ${OracleSql.prefixFilterCtes(0.8)},
         |cc AS (SELECT DISTINCT p.doc_id AS a, i.doc_id AS b
         |  FROM pre p JOIN inv i ON p.shingle = i.shingle AND p.doc_id <> i.doc_id),
         |pairs AS (SELECT a, b FROM (
         |    SELECT a, b, CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
         |        / CAST(len(sa.s) AS DOUBLE) AS c
         |    FROM cc JOIN sh0 sa ON cc.a = sa.doc_id JOIN sh0 sb ON cc.b = sb.doc_id)
         |  WHERE c >= 0.8),
         |pruned AS (SELECT DISTINCT p.a AS doc_id
         |  FROM pairs p JOIN documents da ON p.a = da.doc_id
         |  JOIN documents db ON p.b = db.doc_id
         |  WHERE db.n_chars > da.n_chars
         |     OR (db.n_chars = da.n_chars AND p.b < p.a))
         |SELECT doc_id, lang, n_chars FROM documents
         |WHERE doc_id NOT IN (SELECT doc_id FROM pruned)""".stripMargin) { (s, dir) =>
      Dedup.containmentPrune(Tables.load(s, dir, "documents"),
        "text", "doc_id", "n_chars", threshold = 0.8)
        .select(col("doc_id"), col("lang"), col("n_chars"))
    },

    // cluster-index TRANSITIONS report — the observability a maintained
    // index needs: after a maintenance op, what happened to the
    // clusters? Diffs llm73's full index against llm75's post-delete
    // index (both fixtures already built once per JVM — the report op
    // itself reads only (doc_id, canon_id) from each). The oracle
    // recomputes BOTH closures from scratch (the suffix-parameterized
    // CTE chain) and replays the same classification, so a wrong split
    // count or a phantom carried cluster hash-mismatches.
    QDef("llm77_cluster_index_transitions",
      s"""WITH RECURSIVE ${OracleSql.closureCtes(0.8)},
         |${OracleSql.closureCtes(0.8, "doc_id % 10 <> 7", "_n")},
         |o AS (SELECT doc_id, canon_id AS lo FROM lab),
         |nn AS (SELECT doc_id, canon_id AS ln FROM lab_n),
         |j AS (SELECT COALESCE(o.doc_id, nn.doc_id) AS doc_id, o.lo, nn.ln
         |  FROM o FULL JOIN nn ON o.doc_id = nn.doc_id),
         |ok AS (SELECT CASE WHEN COUNT(ln) = 0 THEN 'old_removed'
         |              WHEN COUNT(DISTINCT ln) >= 2 THEN 'old_split'
         |              ELSE 'old_intact' END AS kind
         |  FROM j WHERE lo IS NOT NULL GROUP BY lo),
         |nk AS (SELECT CASE WHEN COUNT(lo) = 0 THEN 'new_newborn'
         |              WHEN COUNT(DISTINCT lo) >= 2 THEN 'new_merged'
         |              WHEN COUNT(*) FILTER (WHERE lo IS NULL) >= 1 THEN 'new_enlarged'
         |              ELSE 'new_carried' END AS kind
         |  FROM j WHERE ln IS NOT NULL GROUP BY ln),
         |dk AS (SELECT CASE WHEN ln IS NULL THEN 'docs_removed'
         |              WHEN lo IS NULL THEN 'docs_added'
         |              ELSE 'docs_carried' END AS kind FROM j),
         |agg AS (SELECT kind, COUNT(*) AS c FROM
         |  (SELECT kind FROM ok UNION ALL SELECT kind FROM nk
         |   UNION ALL SELECT kind FROM dk) GROUP BY kind),
         |kinds(kind) AS (VALUES ('old_removed'),('old_split'),('old_intact'),
         |  ('new_newborn'),('new_merged'),('new_enlarged'),('new_carried'),
         |  ('docs_removed'),('docs_added'),('docs_carried'))
         |SELECT k.kind, CAST(COALESCE(a.c, 0) AS BIGINT) AS n
         |FROM kinds k LEFT JOIN agg a USING (kind)""".stripMargin) { (s, dir) =>
      val oldIdx = ensureClusterIndex(s, dir)
      val newIdx = ensureDeletedClusterIndex(s, dir)
      Dedup.clusterIndexTransitions(
        IndexLog.snapshot(s, oldIdx).frame("verdicts"),
        IndexLog.snapshot(s, newIdx).frame("verdicts"))
    },

    // INCREMENTAL semantic dedup — the semantic family's llm44: a new
    // batch (vec_id % 10 == 0) probed against the existing corpus +
    // itself, flagged where a lower-id same-cell doc sits at cosine >=
    // 0.40, WITHOUT re-pairing the corpus. Restriction equivalence with
    // llm50's batch form is the contract, so the oracle is llm50's
    // from-scratch SQL with the pair and output sets restricted to the
    // batch — a missed cross-pool pair or a drifted assignment
    // hash-mismatches.
    QDef("llm81_semdedup_incremental", {
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
      val emb = Tables.load(s, dir, "embeddings")
      Dedup.semDedupIncremental(
        corpus = emb.filter(col("vec_id") % 10 =!= 0),
        batch = emb.filter(col("vec_id") % 10 === 0),
        "embedding", "vec_id",
        seeds = emb.filter(col("vec_id") % 25 === 0),
        seedId = "vec_id", seedEmb = "embedding", threshold = 0.40)
    },

    // the same incremental semantic dedup served from the PERSISTED
    // index (Dedup.buildSemDedupIndex once — cell-partitioned corpus
    // assignment — then every batch probes only its touched cell
    // directories; the semantic family's llm46): identical results to
    // llm81, so the same restricted oracle holds.
    QDef("llm82_semdedup_from_index", {
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
      val idx = ensureSemDedupIndex(s, dir)
      Dedup.semDedupFromIndex(s, idx,
        Tables.load(s, dir, "embeddings").filter(col("vec_id") % 10 === 0),
        "embedding", "vec_id", threshold = 0.40)
    },

    // exact-substring CUT — the act-on-it half of span-level dedup
    // (llm48 detects, llm49 scores, this REMOVES): every token inside a
    // cross-doc duplicated 8-token span is cut and the kept tokens
    // re-joined — the Lee-et-al-style alternative to dropping whole
    // docs when only the boilerplate recycles. All occurrences cut
    // (order-free, deterministic). Runs the 100 TB hash-keyed shuffle
    // form; the oracle replays the span-STRING semantics and rebuilds
    // clean_text from the kept positions, so a mis-merged island or an
    // off-by-one interval produces a different string and
    // hash-mismatches.
    QDef("llm80_span_cut",
      """WITH tk AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |sp AS (SELECT doc_id, unnest(range(0, len(tk) - 7)) AS s, tk
        |  FROM tk WHERE len(tk) >= 8),
        |sp2 AS (SELECT doc_id, s, array_to_string(tk[s + 1 : s + 8], ' ') AS span FROM sp),
        |dup AS (SELECT span FROM sp2 GROUP BY span HAVING COUNT(DISTINCT doc_id) >= 2),
        |occ AS (SELECT doc_id, s AS st, s + 8 AS en FROM sp2
        |  WHERE span IN (SELECT span FROM dup)),
        |m AS (SELECT doc_id, st, en,
        |    MAX(en) OVER (PARTITION BY doc_id ORDER BY st, en
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
        |  FROM occ),
        |isl AS (SELECT doc_id, st, en,
        |    SUM(CASE WHEN prev_max IS NULL OR st > prev_max THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY doc_id ORDER BY st, en ROWS UNBOUNDED PRECEDING) AS island
        |  FROM m),
        |iv AS (SELECT doc_id, island, MIN(st) AS st, MAX(en) AS en FROM isl GROUP BY 1, 2),
        |cutl AS (SELECT doc_id, flatten(list(range(st, en))) AS cut,
        |    CAST(SUM(en - st) AS BIGINT) AS ncut FROM iv GROUP BY doc_id)
        |SELECT t.doc_id,
        |  COALESCE(array_to_string(list_transform(list_filter(range(0, len(t.tk)),
        |    p -> NOT list_contains(COALESCE(c.cut, CAST([] AS BIGINT[])), p)),
        |    p -> t.tk[p + 1]), ' '), '') AS clean_text,
        |  CAST(len(t.tk) AS BIGINT) AS n_tokens,
        |  COALESCE(c.ncut, 0) AS dup_tokens
        |FROM tk t LEFT JOIN cutl c USING (doc_id)""".stripMargin) { (s, dir) =>
      Dedup.cutDuplicatedSpans(Tables.load(s, dir, "documents"), "text",
        "doc_id", w = 8, hashSpans = true)
    },

    // artifact HYGIENE report + compaction: the maintained index's
    // takedown -> reingest churn strands stale artifact rows (the
    // deleted docs' build-era shingle sets, shadowed by the re-appended
    // ones); the report classifies every artifact row (live_current /
    // shadowed / dead / orphan) and compactClusterIndexArtifacts
    // reclaims everything but the resolved live rows in one
    // corpus-linear pass — no closure re-pay, the rebuild-free escape.
    // The oracle derives both snapshots' doc counts from the churn
    // recipe alone (before: every doc's build row is live except the
    // churned docs', which are shadowed by their re-append partition;
    // after: exactly one live row per doc) — so a mis-ranked
    // resolution, an unreclaimed stale row, or an over-eager compaction
    // hash-mismatches.
    QDef("llm79_artifact_hygiene",
      """WITH n AS (SELECT COUNT(*) AS total,
        |    COUNT(*) FILTER (WHERE doc_id % 10 = 7) AS churned
        |  FROM documents),
        |ks(stage, kind) AS (VALUES
        |  ('before', 'live_current'), ('before', 'shadowed'),
        |  ('before', 'dead'), ('before', 'orphan'),
        |  ('after', 'live_current'), ('after', 'shadowed'),
        |  ('after', 'dead'), ('after', 'orphan'))
        |SELECT ks.stage, ks.kind,
        |  CAST(CASE WHEN ks.kind = 'live_current' THEN n.total
        |            WHEN ks.stage = 'before' AND ks.kind = 'shadowed'
        |              THEN n.churned
        |            ELSE 0 END AS BIGINT) AS n_rows
        |FROM ks CROSS JOIN n""".stripMargin) { (s, dir) =>
      val report = ensureArtifactHygieneReport(s, dir)
      s.read.parquet(report).filter(col("dir") === "shingles")
        .select(col("stage"), col("kind"), col("n_rows"))
    },

    // minhash calibration audit: portable k=8 slot estimate vs exact
    // Jaccard over verified candidate pairs, binned by floor(j*10) —
    // the report an LSH rollout tunes bands/k from. Integer-count
    // report fields; slot hashes are 63-bit-safe modular arithmetic
    // DuckDB replays bit-for-bit.
    QDef("llm69_minhash_calibration", {
      val poly = "list_reduce([CAST(0 AS BIGINT)] || " +
        "list_transform(range(1, strlen(sh) + 1), c -> CAST(ord(sh[c]) AS BIGINT)), " +
        "(h, x) -> (h * 131 + x) % 2147483647)"
      s"""WITH ${OracleSql.prefixFilterCtes(0.6)},
         |mh AS (SELECT doc_id, list_transform(range(0, 8), i ->
         |    list_reduce(list_transform(s, sh ->
         |      ([1,3,5,7,11,13,17,19][i + 1] * $poly
         |        + [0,101,203,307,401,503,601,701][i + 1]) % 2147483647),
         |      (x, y) -> least(x, y))) AS slots
         |  FROM sh0),
         |pj AS (SELECT x, y, CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
         |      / CAST(len(list_distinct(sa.s || sb.s)) AS DOUBLE) AS j
         |  FROM cand JOIN sh0 sa ON cand.x = sa.doc_id
         |  JOIN sh0 sb ON cand.y = sb.doc_id),
         |pe AS (SELECT p.x, p.y, p.j,
         |    len(list_filter(range(1, 9), i -> ma.slots[i] = mb.slots[i])) AS matches
         |  FROM pj p JOIN mh ma ON p.x = ma.doc_id JOIN mh mb ON p.y = mb.doc_id
         |  WHERE p.j >= 0.6)
         |SELECT CAST(floor(j * 10) AS INT) AS j_bin,
         |  COUNT(*) AS n_pairs,
         |  CAST(SUM(matches) AS DOUBLE) / CAST(COUNT(*) * 8 AS DOUBLE) AS avg_est,
         |  CAST(SUM(CASE WHEN abs(CAST(matches AS DOUBLE) / 8 - j) > 0.15
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_large_err
         |FROM pe GROUP BY 1""".stripMargin
    }) { (s, dir) =>
      Dedup.minhashCalibration(Tables.load(s, dir, "documents"), "text",
        "doc_id", threshold = 0.6)
    },

    // ONLINE-GROWN semantic-dedup index (the llm82 lifecycle past the
    // build): the arrival population appended in two id-monotone
    // batches via appendToSemDedupIndex, per-batch verdicts persisted
    // as returned. The id-ordered probe makes the union of online
    // verdicts equal the one-shot from-scratch probe, so llm82's
    // restricted oracle holds VERBATIM over the grown index's output —
    // the restriction contract, online.
    QDef("llm83_semdedup_append", {
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
      val root = ensureGrownSemDedupIndex(s, dir)
      s.read.parquet(s"$root/verdicts/b=0", s"$root/verdicts/b=1")
    },

    // semantic-dedup index TAKEDOWN serving path: built over the FULL
    // embeddings table, the vec_id % 5 == 0 population deleted (touched
    // cells rewritten, others untouched), then THE QUERY re-probes the
    // deleted population against the post-delete index — verdicts must
    // equal a from-scratch index over the remaining corpus (corpus = %5
    // != 0 here; the probe pool is members ∪ batch, id-ordered).
    QDef("llm84_semdedup_delete", {
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
         |  WHERE b.vec_id % 5 = 0),
         |dup AS (SELECT DISTINCT p.id_b AS vec_id FROM pairs p
         |  JOIN embeddings ea ON p.id_a = ea.vec_id
         |  JOIN embeddings eb ON p.id_b = eb.vec_id
         |  WHERE ${cos("ea.embedding", "eb.embedding")} >= 0.40)
         |SELECT g.vec_id, g.cluster_id, (d.vec_id IS NOT NULL) AS is_dup
         |FROM asg g LEFT JOIN dup d ON g.vec_id = d.vec_id
         |WHERE g.vec_id % 5 = 0""".stripMargin
    }) { (s, dir) =>
      val idx = ensureTakedownSemDedupIndex(s, dir)
      Dedup.semDedupFromIndex(s, idx,
        Tables.load(s, dir, "embeddings").filter(col("vec_id") % 5 === 0),
        "embedding", "vec_id", threshold = 0.40)
    },

    // semDedup index HYGIENE report over llm83's grown index — the
    // number compaction is scheduled from. The oracle derives the EXACT
    // per-cell file accounting from the lifecycle recipe: the build
    // lays one file per corpus cell (repartition-by-cell), each of the
    // two id-monotone appends lays one file per cell its batch touches;
    // n_members is the cell's population. advise_compact flags cells at
    // >= 3 files (touched by build + both appends).
    QDef("llm85_semdedup_index_report", {
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
         |cut AS (SELECT max(vec_id) // 2 AS cut FROM embeddings WHERE vec_id % 10 = 0),
         |files AS (SELECT cluster_id AS cell,
         |    CAST(max(CASE WHEN vec_id % 10 <> 0 THEN 1 ELSE 0 END)
         |       + max(CASE WHEN vec_id % 10 = 0 AND vec_id <= (SELECT cut FROM cut) THEN 1 ELSE 0 END)
         |       + max(CASE WHEN vec_id % 10 = 0 AND vec_id > (SELECT cut FROM cut) THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_files,
         |    COUNT(*) AS n_members
         |  FROM asg GROUP BY 1)
         |SELECT cell, n_members, n_files, n_files >= 3 AS advise_compact
         |FROM files""".stripMargin
    }) { (s, dir) =>
      val root = ensureGrownSemDedupIndex(s, dir)
      Dedup.semDedupIndexReport(s, s"$root/index", fileThreshold = 3)
    },

    // semDedup index REBUILD reconciliation (the llm72 shape for this
    // index): grow the index online, re-train the quantizer from the
    // live members and re-assign everything, then RECONCILE — every row
    // must survive (count = the full corpus), the quantizer must keep
    // its size, cells must stay bounded by it, and the rewrite must lay
    // one file per cell. k-means itself is not SQL-replayable; the
    // oracle pins the invariants that must hold under ANY quantizer.
    QDef("llm86_semdedup_rebuild",
      """SELECT (SELECT count(*) FROM embeddings) AS n_members,
        |  (SELECT count(*) FROM embeddings WHERE vec_id % 25 = 0) AS k_seeds,
        |  true AS cells_bounded, CAST(1 AS BIGINT) AS max_files_per_cell
        |""".stripMargin) { (s, dir) =>
      val root = ensureRebuiltSemDedupIndex(s, dir)
      val k = IndexLog.snapshot(s, s"$root/index").frame("seeds").count()
      // one aggregation over the hygiene report carries every
      // reconciliation number (a crossJoin of 1-row aggregates would
      // plan a BroadcastNestedLoopJoin for nothing)
      import org.apache.spark.sql.functions.{max => fmax, sum => fsum}
      Dedup.semDedupIndexReport(s, s"$root/index")
        .agg(fsum(col("n_members")).as("n_members"),
          count(lit(1)).as("__cells"),
          fmax(col("n_files")).as("max_files_per_cell"))
        .select(col("n_members"), lit(k).as("k_seeds"),
          (col("__cells") <= k).as("cells_bounded"),
          col("max_files_per_cell"))
    }
  )
}
