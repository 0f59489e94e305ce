package graft.queries

import graft.{QDef, Tables}
import graft.functions.VectorFunctions.{cosine_sim, mod_poly_hash}
import graft.ops.{Dedup, Multimodal, Similarity, TextAnalysis}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** LLM-data-pipeline operator surface (builder mandate + SURVEY.md §2.D):
  * dedup (exact / MinHash-LSH / SimHash / n-gram Jaccard / embedding
  * cosine), ANN similarity search (brute-force + SRP-LSH), text analysis
  * (token stats, quality, lang-ID, fingerprints), multimodal columns.
  *
  * Oracles exist where the computation is bit-portable to DuckDB (counts,
  * ratios with fixed-order IEEE arithmetic, exact dedup). Hash-based ops
  * (MinHash/SimHash/xxhash fingerprints) and ANN results depend on
  * JVM-side hash functions — those get rows-only driver checks plus
  * ScalaTest specs (candidate-recall vs brute force, determinism).
  */
object Llm {

  /** Driver-gate wrapper for the ANN paths whose candidate generation is
    * NOT SQL-expressible (k-means centroids/codebooks): instead of raw
    * neighbor lists (hash-dependent → no oracle), the query emits one
    * row per query vector with invariants the DuckDB oracle CAN assert:
    *   - n_ret / ranks_ok / sims_desc — result-shape contracts;
    *   - sims_exact — every reported sim equals the exact cosine of the
    *     reported (query, neighbor) pair, recomputed from the embeddings
    *     (catches a re-rank that leaks compressed-domain scores);
    *   - recall_ok — for the `% 250` checked subset, ≥ ceil(bound·k) of
    *     the reported neighbors appear in the exact brute-force top-k;
    *   - exact_top1_sim — for the checked subset, the exact top-1 cosine:
    *     REAL numeric content the oracle recomputes independently.
    * Recall itself stays pinned corpus-wide in LlmOpsSpec; this gate runs
    * the per-query contracts through the driver's hash compare. The
    * checked subset keeps the brute-force reference a small fraction of
    * the query load at any SF. */
  /** The pid-scoped IVF index of `dir`'s embeddings table, built on
    * first use (kClusters=16) and shared by every consumer in this JVM
    * (llm45's batch lookup, str12's streaming serving) — buildIvfIndex
    * is deterministic, so building once is both safe and the point:
    * one k-means training pass and one partitioned corpus write per
    * scale factor, not one per query. The index log's head is the
    * built-ness signal. */
  // per-index-path build locks: first-use callers on different threads
  // (e.g. llm45 and str12 racing in a test runner) must not interleave
  // overwrite writes to the same parquet path
  private val ivfBuildLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  private[queries] def ensureIvfIndex(s: org.apache.spark.sql.SparkSession,
      dir: String): String = {
    // keyed on a 128-bit digest of the FULL data dir path — the 32-bit
    // hashCode it replaces could alias two dirs into one index
    val idx = graft.TmpDirs.scoped("graft-ivfidx-" + graft.TmpDirs.pathKey(dir))
    val lock = ivfBuildLocks.computeIfAbsent(idx, _ => new Object)
    lock.synchronized {
      if (graft.ops.IndexLog.head(s, idx).isEmpty)
        Similarity.buildIvfIndex(Tables.load(s, dir, "embeddings"), idx,
          kClusters = 16)
    }
    idx
  }

  /** The llm65 index: built (train + assign) on the `vec_id % 10 != 9`
    * 90% of the corpus, then the held-out 10% APPENDED assignment-only
    * (Similarity.appendToIvfIndex) — same pid-scoped idempotent shape
    * as ensureIvfIndex, with an explicit _APPENDED marker because the
    * index has a head from its BUILD commit on, and an interrupted
    * append would otherwise serve a 90% index silently. */
  private[queries] def ensureIvfAppendIndex(s: org.apache.spark.sql.SparkSession,
      dir: String): String = {
    val idx = graft.TmpDirs.scoped("graft-ivfapp-" + graft.TmpDirs.pathKey(dir))
    val lock = ivfBuildLocks.computeIfAbsent(idx, _ => new Object)
    lock.synchronized {
      val marker = new java.io.File(s"$idx/_APPENDED")
      if (!marker.exists()) {
        val emb = Tables.load(s, dir, "embeddings")
        Similarity.buildIvfIndex(emb.filter(col("vec_id") % 10 =!= 9), idx,
          kClusters = 16)
        Similarity.appendToIvfIndex(s, idx, emb.filter(col("vec_id") % 10 === 9))
        marker.createNewFile()
      }
    }
    idx
  }

  /** The str22 index: llm65's append lifecycle ONLINE — built on the
    * `vec_id % 10 != 9` 90%, then the held-out 10% ARRIVES AS A STREAM
    * and each micro-batch is folded in by
    * `StreamOps.ivfAppendStream` (assignment-only against the frozen
    * centroids; committed-replay micro-batches no-op through the
    * all-live check, so at-least-once delivery converges). Same
    * _APPENDED-marker discipline as ensureIvfAppendIndex: the index
    * has a head from its build commit on, so an interrupted stream
    * would otherwise serve a 90% index silently. */
  private[queries] def ensureStreamedIvfIndex(s: org.apache.spark.sql.SparkSession,
      dir: String): String = {
    val idx = graft.TmpDirs.scoped("graft-ivfsapp-" + graft.TmpDirs.pathKey(dir))
    val lock = ivfBuildLocks.computeIfAbsent(idx, _ => new Object)
    lock.synchronized {
      val marker = new java.io.File(s"$idx/_APPENDED")
      if (!marker.exists()) {
        val emb = Tables.load(s, dir, "embeddings")
        Similarity.buildIvfIndex(emb.filter(col("vec_id") % 10 =!= 9), idx,
          kClusters = 16)
        val arriving = graft.streaming.StreamOps.embeddingsStream(s, dir)
          .filter(col("vec_id") % 10 === 9)
        graft.streaming.EphemeralCkpt.withoutChecksums(s) {
          val q = graft.streaming.StreamOps.ivfAppendStream(s, idx, arriving)
          try {
            q.processAllAvailable()
            graft.tools.StreamPlanAudit.record("str22", q)
          } finally q.stop()
        }
        marker.createNewFile()
      }
    }
    idx
  }

  /** The llm67 index: full build, then the `vec_id % 7 == 3` population
    * DELETED as tombstones (Similarity.deleteFromIvfIndex) — the
    * LSM-style delete the serving path anti-joins out. _TOMBSTONED
    * marker for the same interrupted-write reason as _APPENDED. */
  private[queries] def ensureIvfDeleteIndex(s: org.apache.spark.sql.SparkSession,
      dir: String): String = {
    val idx = graft.TmpDirs.scoped("graft-ivfdel-" + graft.TmpDirs.pathKey(dir))
    val lock = ivfBuildLocks.computeIfAbsent(idx, _ => new Object)
    lock.synchronized {
      val marker = new java.io.File(s"$idx/_TOMBSTONED")
      if (!marker.exists()) {
        val emb = Tables.load(s, dir, "embeddings")
        Similarity.buildIvfIndex(emb, idx, kClusters = 16)
        Similarity.deleteFromIvfIndex(s, idx,
          emb.filter(col("vec_id") % 7 === 3).select(col("vec_id")))
        marker.createNewFile()
      }
    }
    idx
  }

  /** The llm70 index: llm67's build+tombstone lifecycle COMPLETED by a
    * compaction (Similarity.compactIvfIndex) — the corpus is rewritten
    * clean and the tombstone list dropped, so serving reads no
    * anti-join. _COMPACTED marker for the same interrupted-write
    * reason as _APPENDED/_TOMBSTONED. */
  private[queries] def ensureIvfCompactIndex(s: org.apache.spark.sql.SparkSession,
      dir: String): String = {
    val idx = graft.TmpDirs.scoped("graft-ivfcmp-" + graft.TmpDirs.pathKey(dir))
    val lock = ivfBuildLocks.computeIfAbsent(idx, _ => new Object)
    lock.synchronized {
      val marker = new java.io.File(s"$idx/_COMPACTED")
      if (!marker.exists()) {
        val emb = Tables.load(s, dir, "embeddings")
        Similarity.buildIvfIndex(emb, idx, kClusters = 16)
        Similarity.deleteFromIvfIndex(s, idx,
          emb.filter(col("vec_id") % 7 === 3).select(col("vec_id")))
        Similarity.compactIvfIndex(s, idx)
        marker.createNewFile()
      }
    }
    idx
  }

  /** The llm71 index: DELIBERATELY drifted — built (train + assign) on
    * the `vec_id % 10 != 9` 90%, then the held-out 10% appended with
    * every embedding REPLACED by a constant all-ones vector, the
    * post-build distribution shift [[Similarity.appendToIvfIndex]]
    * warns about: assignment against the frozen centroids piles the
    * whole batch into one cell. The drift MONITOR (ivfDriftReport) is
    * the subject under test here, not search quality. Same marker
    * discipline as _APPENDED. */
  private[queries] def ensureIvfDriftIndex(s: org.apache.spark.sql.SparkSession,
      dir: String): String = {
    val idx = graft.TmpDirs.scoped("graft-ivfdrf-" + graft.TmpDirs.pathKey(dir))
    val lock = ivfBuildLocks.computeIfAbsent(idx, _ => new Object)
    lock.synchronized {
      val marker = new java.io.File(s"$idx/_DRIFTED")
      if (!marker.exists()) {
        val emb = Tables.load(s, dir, "embeddings")
        Similarity.buildIvfIndex(emb.filter(col("vec_id") % 10 =!= 9), idx,
          kClusters = 16)
        Similarity.appendToIvfIndex(s, idx,
          emb.filter(col("vec_id") % 10 === 9)
            .withColumn("embedding", array_repeat(lit(1.0f), 64)))
        marker.createNewFile()
      }
    }
    idx
  }

  /** The llm72 index: llm71's deliberate drift (held-out 10% appended
    * as all-ones against frozen centroids) PLUS a tombstoned slice,
    * then [[Similarity.rebuildIvfIndex]] — the op the drift advisory
    * calls for. After rebuild the all-ones mass gets its own centroid
    * (balanced for the actual distribution), tombstoned rows are gone
    * from the corpus, and the tombstone list is dropped. Same marker
    * discipline as _DRIFTED. */
  private[queries] def ensureIvfRebuiltIndex(s: org.apache.spark.sql.SparkSession,
      dir: String): String = {
    val idx = graft.TmpDirs.scoped("graft-ivfrb-" + graft.TmpDirs.pathKey(dir))
    val lock = ivfBuildLocks.computeIfAbsent(idx, _ => new Object)
    lock.synchronized {
      val marker = new java.io.File(s"$idx/_REBUILT")
      if (!marker.exists()) {
        val emb = Tables.load(s, dir, "embeddings")
        Similarity.buildIvfIndex(emb.filter(col("vec_id") % 10 =!= 9), idx,
          kClusters = 16)
        Similarity.appendToIvfIndex(s, idx,
          emb.filter(col("vec_id") % 10 === 9)
            .withColumn("embedding", array_repeat(lit(1.0f), 64)))
        Similarity.deleteFromIvfIndex(s, idx,
          emb.filter(col("vec_id") % 11 === 5).select(col("vec_id")))
        Similarity.rebuildIvfIndex(s, idx)
        marker.createNewFile()
      }
    }
    idx
  }

  private[queries] def annGate(ann: DataFrame, emb: DataFrame, k: Int,
      minMatches: Int): DataFrame = {
    val qe = emb.select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    // ann is queries×k rows — broadcast it through both recompute joins.
    // qe is the FULL corpus keyed by query_id, so ann must be the build
    // side here (broadcasting qe would hash-build the whole corpus on
    // every executor); the joined result is back to queries×k rows and
    // safely broadcast into the neighbor-embedding join
    val nb = emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("n_emb"))
    val withEmb = nb.join(
      broadcast(qe.join(broadcast(ann), "query_id")), "neighbor_id")
    // multi-consumption discipline (DESIGN.md): `exact` is consumed by
    // TWO broadcast joins below (exactTop1 + exactSet), and the two
    // broadcast exchanges differ, so without a barrier the brute-force
    // crossJoin subtree plans AND EXECUTES twice — the round-11 lint
    // recount surfaced exactly that (two identical BNLJ occurrences per
    // gate user). The frame is compact (queries/250 × k rows) but
    // per-row expensive (a corpus-wide cosine scan) — the checkpoint
    // case. Lazy: query CONSTRUCTION stays execution-free (PlanLint /
    // explain build all 207 frames without running the gate).
    val exact = Similarity.bruteForceTopK(
      emb, emb.filter(col("vec_id") % 250 === 0), k)
      .localCheckpoint(false)
    val exactTop1 = exact.filter(col("rank") === 1)
      .select(col("query_id"), col("sim").as("exact_sim1"))
    val exactSet = exact.select(col("query_id"), col("neighbor_id"))
      .withColumn("in_exact", lit(1))
    val w = Window.partitionBy(col("query_id")).orderBy(col("rank"))
    val flags = withEmb
      .withColumn("prev_sim", lag(col("sim"), 1).over(w))
      .withColumn("desc_ok", coalesce(col("prev_sim") >= col("sim"), lit(true)))
      .withColumn("exact_ok", col("sim") === cosine_sim(col("q_emb"), col("n_emb")))
      .join(broadcast(exactSet), Seq("query_id", "neighbor_id"), "left")
    flags.groupBy(col("query_id")).agg(
        count(lit(1)).as("n_ret"),
        (min(col("rank")) === 1 && max(col("rank")) === count(lit(1)) &&
          countDistinct(col("rank")) === count(lit(1))).as("ranks_ok"),
        bool_and(col("desc_ok")).as("sims_desc"),
        bool_and(col("exact_ok")).as("sims_exact"),
        sum(col("in_exact")).as("n_match"))
      .join(broadcast(exactTop1), Seq("query_id"), "left")
      .select(col("query_id"), col("n_ret"), col("ranks_ok"), col("sims_desc"),
        col("sims_exact"),
        (col("query_id") % 250 === 0).as("checked"),
        when(col("query_id") % 250 === 0,
          coalesce(col("n_match"), lit(0L)) >= minMatches)
          .otherwise(lit(true)).as("recall_ok"),
        when(col("query_id") % 250 === 0, col("exact_sim1"))
          .otherwise(lit(null).cast("double")).as("exact_top1_sim"))
  }

  /** The DuckDB side of [[annGate]]: shape/contract booleans are
    * asserted `true`; exact_top1_sim is recomputed from scratch with the
    * bit-portable cosine fold (same construction as llm09's oracle). */
  private[queries] def annGateOracle(k: Int, src: String = "embeddings",
      extraCte: String = ""): String = {
    def fold(u: String, v: String, a: String, b: String) =
      s"CASE WHEN least(len($a), len($b)) = 0 THEN 0.0 ELSE list_reduce(list_transform(range(1, least(len($a), len($b)) + 1), i -> CAST($u[i] AS DOUBLE) * CAST($v[i] AS DOUBLE)), (x, y) -> x + y) END"
    s"""WITH ${extraCte}q AS (SELECT vec_id AS query_id, embedding AS q_emb
       |  FROM $src WHERE vec_id % 50 = 0),
       |d AS (SELECT q.query_id,
       |    ${fold("c.embedding", "q.q_emb", "c.embedding", "q.q_emb")} AS dot,
       |    ${fold("c.embedding", "c.embedding", "c.embedding", "q.q_emb")} AS na,
       |    ${fold("q.q_emb", "q.q_emb", "c.embedding", "q.q_emb")} AS nb
       |  FROM $src c, q WHERE c.vec_id <> q.query_id),
       |t1 AS (SELECT query_id, max(CASE WHEN na = 0.0 OR nb = 0.0 THEN 0.0
       |    ELSE dot / (sqrt(na) * sqrt(nb)) END) AS exact_sim1
       |  FROM d GROUP BY query_id)
       |SELECT q.query_id, CAST($k AS BIGINT) AS n_ret, true AS ranks_ok,
       |  true AS sims_desc, true AS sims_exact,
       |  q.query_id % 250 = 0 AS checked, true AS recall_ok,
       |  CASE WHEN q.query_id % 250 = 0 THEN t1.exact_sim1 ELSE NULL END AS exact_top1_sim
       |FROM q JOIN t1 USING (query_id)""".stripMargin
  }

  val defs: Seq[QDef] = Seq(

    QDef("llm01_token_stats",
      """SELECT doc_id,
        |  len(string_split(text, ' ')) AS n_tokens,
        |  len(list_distinct(string_split(text, ' '))) AS n_uniq_tokens,
        |  (CAST(n_chars AS DOUBLE) - CAST(len(string_split(text, ' ')) - 1 AS DOUBLE))
        |    / CAST(len(string_split(text, ' ')) AS DOUBLE) AS avg_token_len
        |FROM documents""".stripMargin) { (s, dir) =>
      TextAnalysis.tokenStats(Tables.load(s, dir, "documents"))
        .select(col("doc_id"), col("n_tokens"), col("n_uniq_tokens"), col("avg_token_len"))
    },

    QDef("llm02_quality",
      s"""SELECT doc_id,
         |  CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
         |    / CAST(len(string_split(text, ' ')) AS DOUBLE) AS uniq_ratio,
         |  CAST(len(list_intersect(list_distinct(string_split(text, ' ')),
         |       [${TextAnalysis.StopWords.map("'" + _ + "'").mkString(",")}])) AS DOUBLE)
         |    / CAST(len(string_split(text, ' ')) AS DOUBLE) AS stop_ratio,
         |  LEAST(1.0, CAST(n_chars AS DOUBLE) / 500.0) AS len_score,
         |  0.5 * (CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
         |    / CAST(len(string_split(text, ' ')) AS DOUBLE))
         |  + 0.2 * (CAST(len(list_intersect(list_distinct(string_split(text, ' ')),
         |       [${TextAnalysis.StopWords.map("'" + _ + "'").mkString(",")}])) AS DOUBLE)
         |    / CAST(len(string_split(text, ' ')) AS DOUBLE))
         |  + 0.3 * LEAST(1.0, CAST(n_chars AS DOUBLE) / 500.0) AS quality
         |FROM documents""".stripMargin) { (s, dir) =>
      TextAnalysis.qualityScore(Tables.load(s, dir, "documents"))
        .select(col("doc_id"), col("uniq_ratio"), col("stop_ratio"),
          col("len_score"), col("quality"))
    },

    // oracle mirrors array_max-over-(score,lang)-structs: greatest score,
    // ties broken toward the lexicographically greatest lang (CASE runs
    // in descending lang order); scores are int/int double division in
    // both engines, so the hash compare is exact
    QDef("llm03_langid", {
      def sc(markers: Seq[String]) =
        s"CAST(len(list_intersect(string_split(text,' '), [${markers.map("'" + _ + "'").mkString(",")}])) AS DOUBLE) / CAST(len(string_split(text,' ')) AS DOUBLE)"
      val m = TextAnalysis.LangMarkers
      s"""WITH s AS (SELECT doc_id, lang,
         |  ${sc(m("de"))} AS s_de, ${sc(m("en"))} AS s_en, ${sc(m("es"))} AS s_es,
         |  ${sc(m("fr"))} AS s_fr, ${sc(m("zh"))} AS s_zh
         |FROM documents)
         |SELECT doc_id, lang,
         |  CASE WHEN s_zh = best THEN 'zh' WHEN s_fr = best THEN 'fr'
         |       WHEN s_es = best THEN 'es' WHEN s_en = best THEN 'en'
         |       ELSE 'de' END AS pred_lang,
         |  best AS lang_score
         |FROM (SELECT *, greatest(s_de, s_en, s_es, s_fr, s_zh) AS best FROM s)""".stripMargin
    }) { (s, dir) =>
      TextAnalysis.langId(Tables.load(s, dir, "documents"))
        .select(col("doc_id"), col("lang"), col("pred_lang"), col("lang_score"))
    },

    // full per-doc fingerprint oracle: all three prints are modular-
    // polynomial folds whose every intermediate fits in BIGINT, so
    // DuckDB replays them bit-for-bit — content_fp over raw text
    // (llm21's fold), rolling_fp an order-sensitive fold of per-token
    // hashes mod 2^57, simhash_fp the polynomial-vote SimHash (votes
    // are order-free, so the unnest recomputation is safe). The
    // xxhash64-based production prints (TextAnalysis.fingerprints)
    // stay spec-pinned in TextAnalysisSpec.
    QDef("llm04_fingerprints",
      """WITH d AS (SELECT doc_id, text FROM documents),
        |tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM d),
        |th AS (SELECT doc_id,
        |    list_reduce([CAST(0 AS BIGINT)] ||
        |      list_transform(range(1, strlen(t) + 1), i -> CAST(ord(t[i]) AS BIGINT)),
        |      (h, c) -> (h * 131 + c) % 2147483647) AS h1,
        |    list_reduce([CAST(0 AS BIGINT)] ||
        |      list_transform(range(1, strlen(t) + 1), i -> CAST(ord(t[i]) AS BIGINT)),
        |      (h, c) -> (h * 137 + c) % 2147483647) AS h2
        |  FROM tok),
        |votes AS (SELECT doc_id, b,
        |    sum(2 * (CASE WHEN b < 31 THEN (h1 >> b) & 1
        |                  ELSE (h2 >> (b - 31)) & 1 END) - 1) AS s
        |  FROM th CROSS JOIN (SELECT unnest(range(0, 62)) AS b) bb
        |  GROUP BY doc_id, b),
        |sig AS (SELECT doc_id,
        |    CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS simhash_fp
        |  FROM votes GROUP BY doc_id)
        |SELECT d.doc_id,
        |  list_reduce([CAST(0 AS BIGINT)] ||
        |    list_transform(range(1, strlen(text) + 1), i -> CAST(ord(text[i]) AS BIGINT)),
        |    (h, c) -> (h * 131 + c) % 2147483647) AS content_fp,
        |  list_reduce([CAST(0 AS BIGINT)] ||
        |    list_transform(string_split(text, ' '), t ->
        |      list_reduce([CAST(0 AS BIGINT)] ||
        |        list_transform(range(1, strlen(t) + 1), i -> CAST(ord(t[i]) AS BIGINT)),
        |        (h, c) -> (h * 131 + c) % 2147483647)),
        |    (h, x) -> (h * 31 + x) % 144115188075855872) AS rolling_fp,
        |  sig.simhash_fp
        |FROM d JOIN sig USING (doc_id)""".stripMargin) { (s, dir) =>
      TextAnalysis.fingerprintsPortable(Tables.load(s, dir, "documents"))
        .select(col("doc_id"), col("content_fp"), col("rolling_fp"), col("simhash_fp"))
    },

    // oracle-checkable fingerprint: modular polynomial hash over the
    // document bytes (mod 2^31-1 keeps every intermediate in BIGINT
    // range; corpus is ASCII so ord(char) == utf-8 byte) — DuckDB
    // replays the identical fold, unlike the xxhash64-based llm04 prints
    QDef("llm21_fingerprint_mod",
      """SELECT doc_id,
        |  list_reduce([CAST(0 AS BIGINT)] ||
        |    list_transform(range(1, strlen(text) + 1), i -> CAST(ord(text[i]) AS BIGINT)),
        |    (h, c) -> (h * 131 + c) % 2147483647) AS mod_fp
        |FROM documents""".stripMargin) { (s, dir) =>
      Tables.load(s, dir, "documents")
        .select(col("doc_id"), mod_poly_hash(col("text")).as("mod_fp"))
    },

    QDef("llm05_dedup_exact",
      """SELECT doc_id, text FROM (
        |  SELECT doc_id, text,
        |    ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id) AS rn
        |  FROM documents) WHERE rn = 1""".stripMargin) { (s, dir) =>
      Dedup.exact(Tables.load(s, dir, "documents"), Seq("text"), "doc_id")
        .select(col("doc_id"), col("text"))
    },

    // LSH recall audit, oracle-gated: for EVERY true near-dup pair
    // (exact jaccard >= 0.8, recomputed via the zero-false-negative
    // prefix-filter join), did MinHash banding surface it as a
    // candidate? The raw candidate set itself is hash-dependent (band
    // collisions), but the capture booleans are the property that
    // matters — k=16 in 8 bands of 2 puts per-pair miss probability at
    // (1 - j^2)^8 <= 3e-4 at j = 0.8, and the oracle pins captured=true
    // for every pair at every SF. Candidate-stage mechanics stay
    // spec-pinned in DedupSpec.
    QDef("llm06_dedup_minhash",
      s"""WITH ${OracleSql.prefixFilterCtes(0.8)}
         |${OracleSql.verifiedPairsSelect(0.8, extraSelect = ", true AS captured")}""".stripMargin) { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      val truth = Dedup.jaccardSelfJoinExact(docs, "text", "doc_id", threshold = 0.8)
      val cands = Dedup.minhashCandidates(docs, "text", "doc_id", k = 16, bands = 8)
        .withColumn("captured", lit(true))
      truth.join(cands, Seq("id_a", "id_b"), "left")
        .select(col("id_a"), col("id_b"), col("jaccard"),
          coalesce(col("captured"), lit(false)).as("captured"))
    },

    // full pair-set oracle for the simhash operator: the portable
    // polynomial-vote signature (simhash64_poly) lets DuckDB recompute
    // every signature bit-for-bit, and the chunk-pigeonhole join is
    // EXACT for hamming <= 3 (some 16-bit chunk must match), so the
    // Spark pair set must equal DuckDB's brute-force hamming join —
    // both directions, no sampling. The xxhash64 signature variant
    // stays the production default (DedupSpec).
    QDef("llm07_dedup_simhash",
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
        |th AS (SELECT doc_id,
        |    list_reduce([CAST(0 AS BIGINT)] ||
        |      list_transform(range(1, strlen(t) + 1), i -> CAST(ord(t[i]) AS BIGINT)),
        |      (h, c) -> (h * 131 + c) % 2147483647) AS h1,
        |    list_reduce([CAST(0 AS BIGINT)] ||
        |      list_transform(range(1, strlen(t) + 1), i -> CAST(ord(t[i]) AS BIGINT)),
        |      (h, c) -> (h * 137 + c) % 2147483647) AS h2
        |  FROM tok),
        |votes AS (SELECT doc_id, b,
        |    sum(2 * (CASE WHEN b < 31 THEN (h1 >> b) & 1
        |                  ELSE (h2 >> (b - 31)) & 1 END) - 1) AS s
        |  FROM th CROSS JOIN (SELECT unnest(range(0, 62)) AS b) bb
        |  GROUP BY doc_id, b),
        |sig AS (SELECT doc_id,
        |    CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS sig
        |  FROM votes GROUP BY doc_id)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(bit_count(xor(a.sig, b.sig)) AS INTEGER) AS hamming
        |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.sig, b.sig)) <= 3""".stripMargin) { (s, dir) =>
      Dedup.simhashNearDup(Tables.load(s, dir, "documents"), "text", "doc_id",
        maxHamming = 3, portable = true)
    },

    // end-to-end near-dup oracle: LSH candidates -> exact n-gram
    // Jaccard verify, checked against DuckDB's zero-false-negative
    // prefix-filter join. Greenness asserts empirical recall 1 on this
    // corpus: at 8 bands of 2 a j=0.8 pair escapes all bands with
    // probability (1 - 0.64)^8 ~ 2.8e-4 (the r=4 banding missed a
    // j=0.80 pair at sf0.1; r=2 does not).
    QDef("llm08_ngram_jaccard",
      s"""WITH ${OracleSql.prefixFilterCtes(0.8)}
         |${OracleSql.verifiedPairsSelect(0.8)}""".stripMargin) { (s, dir) =>
      Dedup.nearDupJaccard(Tables.load(s, dir, "documents"), "text", "doc_id",
        threshold = 0.8, bands = 8)
    },

    // oracle reproduces CosineSimilarity bit-for-bit: each accumulator
    // (dot, |a|^2, |b|^2) is a sequential left-to-right double fold, so
    // list_reduce over the same element order gives the identical IEEE
    // result, and sqrt/division are correctly rounded in both engines
    QDef("llm09_knn_brute", {
      // every accumulator folds over the SAME least-length range that
      // CosineSimilarity uses (it truncates dot AND both norms to
      // min(len)); empty range guarded to 0.0 (list_reduce errors on [],
      // the engine returns 0.0 via the zero-norm branch)
      def fold(u: String, v: String, a: String, b: String) =
        s"CASE WHEN least(len($a), len($b)) = 0 THEN 0.0 ELSE list_reduce(list_transform(range(1, least(len($a), len($b)) + 1), i -> CAST($u[i] AS DOUBLE) * CAST($v[i] AS DOUBLE)), (x, y) -> x + y) END"
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS q_emb
         |  FROM embeddings WHERE vec_id % 50 = 0),
         |d AS (SELECT q.query_id, c.vec_id AS neighbor_id,
         |    ${fold("c.embedding", "q.q_emb", "c.embedding", "q.q_emb")} AS dot,
         |    ${fold("c.embedding", "c.embedding", "c.embedding", "q.q_emb")} AS na,
         |    ${fold("q.q_emb", "q.q_emb", "c.embedding", "q.q_emb")} AS nb
         |  FROM embeddings c, q WHERE c.vec_id <> q.query_id),
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
      Similarity.bruteForceTopK(emb, queries, k = 10)
    },

    // full oracle: Similarity.planes is a portable quadratic congruential
    // formula, so the SAME plane vectors embed here as double literals
    // (Double.toString = shortest round-trip; DuckDB's parse is correctly
    // rounded → identical doubles). DuckDB then replays the whole
    // pipeline: per-plane sign dots → 4-bit bucket, multi-probe as
    // hamming(bucket, q_bucket) <= 1 (exact bucket + every 1-bit flip),
    // exact cosine re-rank — bit-for-bit vs the Spark plan
    QDef("llm10_knn_lsh", {
      val planeLits = Similarity.planes(4, 64)
        .map(_.map(java.lang.Double.toString).mkString("[", ",", "]"))
      // DotProduct semantics: fold over least(len) in element order,
      // 0.0 for an empty range (the expression returns 0.0 before the loop)
      def planeDot(emb: String, j: Int) =
        s"CASE WHEN len($emb) = 0 THEN 0.0 ELSE list_reduce(list_transform(range(1, least(len($emb), 64) + 1), i -> CAST($emb[i] AS DOUBLE) * ((${planeLits(j)})[i])), (a, b) -> a + b) END"
      def bucket(emb: String) = (0 until 4).map(j =>
        s"(CASE WHEN ${planeDot(emb, j)} >= 0 THEN ${1 << j} ELSE 0 END)").mkString(" + ")
      def fold(u: String, v: String, a: String, b: String) =
        s"CASE WHEN least(len($a), len($b)) = 0 THEN 0.0 ELSE list_reduce(list_transform(range(1, least(len($a), len($b)) + 1), i -> CAST($u[i] AS DOUBLE) * CAST($v[i] AS DOUBLE)), (x, y) -> x + y) END"
      s"""WITH sig AS (SELECT vec_id, embedding, ${bucket("embedding")} AS bucket
         |  FROM embeddings),
         |q AS (SELECT vec_id AS query_id, embedding AS q_emb, bucket AS qb
         |  FROM sig WHERE vec_id % 50 = 0),
         |d AS (SELECT q.query_id, c.vec_id AS neighbor_id,
         |    ${fold("c.embedding", "q.q_emb", "c.embedding", "q.q_emb")} AS dot,
         |    ${fold("c.embedding", "c.embedding", "c.embedding", "q.q_emb")} AS na,
         |    ${fold("q.q_emb", "q.q_emb", "c.embedding", "q.q_emb")} AS nb
         |  FROM sig c, q
         |  WHERE bit_count(xor(c.bucket, q.qb)) <= 1 AND c.vec_id <> q.query_id),
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
      Similarity.lshTopK(emb, queries, k = 10, nPlanes = 4)
    },

    // full oracle (same portable-plane construction as llm10): SRP
    // buckets → within-bucket pairs (id_a < id_b) → exact cosine ≥
    // threshold, replayed bit-for-bit in DuckDB
    QDef("llm11_embed_neardup", {
      val planeLits = Similarity.planes(4, 64)
        .map(_.map(java.lang.Double.toString).mkString("[", ",", "]"))
      def planeDot(emb: String, j: Int) =
        s"CASE WHEN len($emb) = 0 THEN 0.0 ELSE list_reduce(list_transform(range(1, least(len($emb), 64) + 1), i -> CAST($emb[i] AS DOUBLE) * ((${planeLits(j)})[i])), (a, b) -> a + b) END"
      def bucket(emb: String) = (0 until 4).map(j =>
        s"(CASE WHEN ${planeDot(emb, j)} >= 0 THEN ${1 << j} ELSE 0 END)").mkString(" + ")
      def fold(u: String, v: String, a: String, b: String) =
        s"CASE WHEN least(len($a), len($b)) = 0 THEN 0.0 ELSE list_reduce(list_transform(range(1, least(len($a), len($b)) + 1), i -> CAST($u[i] AS DOUBLE) * CAST($v[i] AS DOUBLE)), (x, y) -> x + y) END"
      s"""WITH sig AS (SELECT vec_id, embedding, ${bucket("embedding")} AS bucket
         |  FROM embeddings),
         |d AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |    ${fold("a.embedding", "b.embedding", "a.embedding", "b.embedding")} AS dot,
         |    ${fold("a.embedding", "a.embedding", "a.embedding", "b.embedding")} AS na,
         |    ${fold("b.embedding", "b.embedding", "a.embedding", "b.embedding")} AS nb
         |  FROM sig a JOIN sig b
         |    ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
         |SELECT id_a, id_b, cos FROM (
         |  SELECT id_a, id_b, CASE WHEN na = 0.0 OR nb = 0.0 THEN 0.0
         |    ELSE dot / (sqrt(na) * sqrt(nb)) END AS cos FROM d)
         |WHERE cos >= 0.40""".stripMargin
    }) { (s, dir) =>
      Dedup.embeddingNearDup(Tables.load(s, dir, "embeddings"), "embedding",
        "vec_id", threshold = 0.40, nPlanes = 4)
    },

    // hash-based exact dedup: survivors identical to llm05 (no 64-bit
    // collisions in this corpus), but only the hash ever shuffles
    QDef("llm14_dedup_byhash",
      """SELECT doc_id FROM (
        |  SELECT doc_id, ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id) AS rn
        |  FROM documents) WHERE rn = 1""".stripMargin) { (s, dir) =>
      Dedup.exactByHash(Tables.load(s, dir, "documents"), "text", "doc_id")
        .select(col("doc_id"))
    },

    // oracle can't use lookarounds (RE2): instead it inserts an explicit
    // boundary char (chr(1), absent from the corpus) at letter<->digit
    // transitions, then splits on non-alnum runs — same token count
    QDef("llm15_bpeish_tokens",
      """SELECT doc_id, CAST(len(string_split_regex(
        |  regexp_replace(regexp_replace(text,
        |    '([a-z])([0-9])', '\1' || chr(1) || '\2', 'g'),
        |    '([0-9])([a-z])', '\1' || chr(1) || '\2', 'g'),
        |  '[^a-z0-9]+')) AS INTEGER) AS n_subwords
        |FROM documents""".stripMargin) { (s, dir) =>
      val d = Tables.load(s, dir, "documents")
      d.select(col("doc_id"),
        size(TextAnalysis.bpeishTokens(col("text"))).as("n_subwords"))
    },

    // full oracle, same construction as llm10: 8 tables × 4 portable
    // planes (global plane index t*4+j, matching lshTopKMulti), candidate
    // iff the pair shares a bucket in ANY table (the Spark side's
    // explode+join+dropDuplicates ≡ the OR-of-8 here), exact cosine
    // re-rank over the deduped pair set
    QDef("llm18_knn_lsh_multitable", {
      val planeLits = Similarity.planes(64, 64)
        .map(_.map(java.lang.Double.toString).mkString("[", ",", "]"))
      def planeDot(emb: String, p: Int) =
        s"CASE WHEN len($emb) = 0 THEN 0.0 ELSE list_reduce(list_transform(range(1, least(len($emb), 64) + 1), i -> CAST($emb[i] AS DOUBLE) * ((${planeLits(p)})[i])), (a, b) -> a + b) END"
      def tableBucket(emb: String, t: Int) = (0 until 4).map(j =>
        s"(CASE WHEN ${planeDot(emb, t * 4 + j)} >= 0 THEN ${1 << j} ELSE 0 END)").mkString(" + ")
      val sigCols = (0 until 16).map(t => s"${tableBucket("embedding", t)} AS b$t").mkString(",\n    ")
      val anyShared = (0 until 16).map(t => s"c.b$t = q.b$t").mkString(" OR ")
      def fold(u: String, v: String, a: String, b: String) =
        s"CASE WHEN least(len($a), len($b)) = 0 THEN 0.0 ELSE list_reduce(list_transform(range(1, least(len($a), len($b)) + 1), i -> CAST($u[i] AS DOUBLE) * CAST($v[i] AS DOUBLE)), (x, y) -> x + y) END"
      s"""WITH sig AS (SELECT vec_id, embedding,
         |    $sigCols
         |  FROM embeddings),
         |q AS (SELECT vec_id AS query_id, embedding AS q_emb,
         |    b0, b1, b2, b3, b4, b5, b6, b7,
         |    b8, b9, b10, b11, b12, b13, b14, b15
         |  FROM sig WHERE vec_id % 50 = 0),
         |d AS (SELECT q.query_id, c.vec_id AS neighbor_id,
         |    ${fold("c.embedding", "q.q_emb", "c.embedding", "q.q_emb")} AS dot,
         |    ${fold("c.embedding", "c.embedding", "c.embedding", "q.q_emb")} AS na,
         |    ${fold("q.q_emb", "q.q_emb", "c.embedding", "q.q_emb")} AS nb
         |  FROM sig c, q
         |  WHERE ($anyShared) AND c.vec_id <> q.query_id),
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
      // 16 tables x 4 planes (recall 0.93/0.90 at sf0.1/0.001 vs 0.71
      // at 8 tables): table count is the LINEAR recall knob — candidate
      // cost is L*n/2^r per query — while the per-table plane count r
      // stays the bucket-granularity scale knob (sized up with corpus)
      Similarity.lshTopKMulti(emb, queries, k = 10, nTables = 16, planesPerTable = 4)
    },

    // IVF's candidate cells come from k-means (not SQL-expressible), so
    // the query ships through annGate: per-query shape/exactness/recall
    // invariants + independently-recomputed exact top-1 sims, all
    // oracle-hash-matched. minMatches=3 (observed per-query min 5 across
    // SFs); corpus recall pinned tighter in LlmOpsSpec.
    QDef("llm16_knn_ivf", annGateOracle(10)) { (s, dir) =>
      val emb = Tables.load(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") % 50 === 0)
      // nProbe=10 since r12 (recall 0.66 -> 0.83 at sf0.1; observed
      // per-query min 7 across SFs) — the probe depth a <=0.8-recall
      // family member warranted; cells still prune 6/16 of the corpus
      annGate(Similarity.ivfTopK(emb, queries, k = 10, kClusters = 16, nProbe = 10),
        emb, k = 10, minMatches = 5)
    },

    // the same IVF search over a PREBUILT persisted index (train/assign
    // once, query from files — the production lifecycle): results are
    // identical to llm16's inline build, so the same gate/oracle holds;
    // the scan reads only the probed cell directories (static partition
    // filter over the partitionBy("cell") layout)
    QDef("llm45_knn_ivf_prebuilt", annGateOracle(10)) { (s, dir) =>
      val emb = Tables.load(s, dir, "embeddings")
      val idx = ensureIvfIndex(s, dir)
      val queries = emb.filter(col("vec_id") % 50 === 0)
      annGate(Similarity.ivfTopKFromIndex(s, idx, queries, k = 10, nProbe = 10),
        emb, k = 10, minMatches = 5)
    },

    // incremental index maintenance: the index is TRAINED AND BUILT on
    // 90% of the corpus, the remaining 10% arrives later and is APPENDED
    // without retraining (assignment-only against the persisted
    // centroids — FAISS add() semantics, the only affordable form at
    // lake scale); serving then answers over old + new through the same
    // static-partition-filter scan, and the gate holds against the FULL
    // corpus (appended vectors are first-class: exact sims, k filled,
    // recall spot-checks pass)
    QDef("llm65_knn_ivf_append", annGateOracle(10)) { (s, dir) =>
      val emb = Tables.load(s, dir, "embeddings")
      val idx = ensureIvfAppendIndex(s, dir)
      val queries = emb.filter(col("vec_id") % 50 === 0)
      annGate(Similarity.ivfTopKFromIndex(s, idx, queries, k = 10, nProbe = 10),
        emb, k = 10, minMatches = 5)
    },

    // index deletions: the %7==3 population tombstoned out of the full
    // index (LSM-style — cells never rewritten per delete batch; the
    // serving path anti-joins the broadcast tombstone list BEFORE
    // scoring, so a deleted vector neither costs a cosine nor occupies
    // a k-slot). The gate runs against the LIVE corpus — a deleted
    // vector surfacing as a neighbor fails sims_exact/recall, and the
    // oracle recomputes exact_top1 over the same live view
    QDef("llm67_knn_ivf_delete", annGateOracle(10,
        src = "live",
        extraCte = "live AS (SELECT * FROM embeddings WHERE NOT (vec_id % 7 = 3)), ")) { (s, dir) =>
      val emb = Tables.load(s, dir, "embeddings")
      val idx = ensureIvfDeleteIndex(s, dir)
      val live = emb.filter(col("vec_id") % 7 =!= 3)
      val queries = live.filter(col("vec_id") % 50 === 0)
      annGate(Similarity.ivfTopKFromIndex(s, idx, queries, k = 10, nProbe = 6),
        live, k = 10, minMatches = 3)
    },

    // the compaction that completes the delete lifecycle: tombstones
    // materialized into a clean cell-partitioned rewrite, list dropped;
    // serving = llm67's live view with NO anti-join in the plan
    QDef("llm70_knn_ivf_compact", annGateOracle(10,
        src = "live",
        extraCte = "live AS (SELECT * FROM embeddings WHERE NOT (vec_id % 7 = 3)), ")) { (s, dir) =>
      val emb = Tables.load(s, dir, "embeddings")
      val idx = ensureIvfCompactIndex(s, dir)
      val live = emb.filter(col("vec_id") % 7 =!= 3)
      val queries = live.filter(col("vec_id") % 50 === 0)
      annGate(Similarity.ivfTopKFromIndex(s, idx, queries, k = 10, nProbe = 6),
        live, k = 10, minMatches = 3)
    },

    // the drift monitor that completes the append lifecycle: the
    // deliberately drifted index (every appended vector collapses into
    // one frozen cell — ensureIvfDriftIndex) must be OBSERVABLE. The
    // report's rebuild advisory fires, the fullest cell holds at least
    // the whole appended batch, and the live/tombstone totals reconcile
    // with the source table (the numerics DuckDB recomputes
    // independently; cell identities are k-means-derived and stay
    // Spark-side, like every IVF oracle here).
    QDef("llm71_ivf_drift_report",
      """SELECT CAST(16 AS BIGINT) AS n_cells,
        |  count(*) AS total_live,
        |  CAST(0 AS BIGINT) AS total_tombstoned,
        |  true AS max_covers_appended,
        |  true AS advise_rebuild,
        |  false AS advise_compact
        |FROM embeddings""".stripMargin) { (s, dir) =>
      val emb = Tables.load(s, dir, "embeddings")
      val idx = ensureIvfDriftIndex(s, dir)
      val appended = emb.filter(col("vec_id") % 10 === 9)
        .agg(count(lit(1)).as("n_appended"))
      Similarity.ivfDriftReport(s, idx, maxOverMedian = 2.0)
        .crossJoin(appended)
        .select(col("n_cells"), col("total_live"), col("total_tombstoned"),
          (col("max_cell") >= col("n_appended")).as("max_covers_appended"),
          col("advise_rebuild"), col("advise_compact"))
    },

    // the rebuild that ANSWERS the drift advisory: llm71's drifted
    // layout plus a tombstoned slice, re-trained and re-assigned from
    // the live corpus (Similarity.rebuildIvfIndex). The advisory flips
    // false (the all-ones mass now has its own centroid — balanced for
    // the actual distribution), the live total reconciles with the
    // source minus the deleted slice, and nothing is tombstoned (the
    // rebuild materialized the deletes and dropped the list).
    QDef("llm72_ivf_rebuild",
      """SELECT CAST(16 AS BIGINT) AS n_cells,
        |  count(*) AS total_live,
        |  CAST(0 AS BIGINT) AS total_tombstoned,
        |  false AS advise_rebuild,
        |  false AS advise_compact
        |FROM embeddings WHERE NOT (vec_id % 11 = 5)""".stripMargin) { (s, dir) =>
      val idx = ensureIvfRebuiltIndex(s, dir)
      Similarity.ivfDriftReport(s, idx)
        .select(col("n_cells"), col("total_live"), col("total_tombstoned"),
          col("advise_rebuild"), col("advise_compact"))
    },

    // PQ-compressed ANN with ADC scoring + exact rerank: the scored
    // corpus holds only m=16 codes + a norm per vector; the top
    // k*rerank ADC candidates re-score exactly (bounded, broadcast) —
    // recall ≥0.9 at every SF at these shipped knobs (floors pinned in
    // LlmOpsSpec, tracked per round in DESIGN's recall table)
    QDef("llm41_knn_pq", annGateOracle(10)) { (s, dir) =>
      val emb = Tables.load(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") % 50 === 0)
      // minMatches=5 (observed per-query min 8 across SFs at the
      // reranked knobs — the exact re-score of the top k*rerank ADC
      // candidates recovers most of the compressed-domain loss)
      annGate(Similarity.pqTopK(emb, queries, k = 10, m = 16, ksub = 16,
        rerank = 16), emb, k = 10, minMatches = 5)
    },

    // IVF-PQ: coarse cells prune candidates AND candidates score in the
    // compressed domain — the composed index a production vector lake
    // ships (recall pinned in LlmOpsSpec). RESIDUAL encoding + a finer
    // coarse quantizer (32 cells, 20 probed — the same 0.625 scanned
    // fraction as the previous 10-of-16) lift sf0.1 recall 0.825 → 0.913
    // at equal cost; the IvfPqSweep grid shows every cheaper config
    // (fewer probes / smaller ksub / smaller rerank) missing the 0.8 bar
    QDef("llm42_knn_ivfpq", annGateOracle(10)) { (s, dir) =>
      val emb = Tables.load(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") % 50 === 0)
      annGate(Similarity.ivfPqTopK(emb, queries, k = 10, kClusters = 32,
        nProbe = 20, m = 16, ksub = 64, rerank = 16), emb, k = 10,
        minMatches = 4)
    },

    // int8 quantization (Similarity.quantizeInt8): absmax scale + floor
    // codes — floor keeps every step bit-portable (no rounding-mode
    // divergence); summary scalars are exact integer/double arithmetic
    QDef("llm22_embed_quantize",
      """SELECT vec_id,
        |  CAST(list_max(list_transform(embedding, x -> abs(x))) AS DOUBLE) AS scale,
        |  CASE WHEN CAST(list_max(list_transform(embedding, x -> abs(x))) AS DOUBLE) = 0.0
        |    THEN CAST(0 AS BIGINT)
        |    ELSE CAST(COALESCE(list_sum(list_transform(embedding,
        |      x -> CAST(floor(CAST(x AS DOUBLE)
        |             / CAST(list_max(list_transform(embedding, y -> abs(y))) AS DOUBLE)
        |             * 127) AS BIGINT))), 0) AS BIGINT) END AS code_sum,
        |  CASE WHEN CAST(list_max(list_transform(embedding, x -> abs(x))) AS DOUBLE) = 0.0
        |    THEN CAST(0 AS BIGINT)
        |    ELSE CAST(list_min(list_transform(embedding,
        |      x -> CAST(floor(CAST(x AS DOUBLE)
        |             / CAST(list_max(list_transform(embedding, y -> abs(y))) AS DOUBLE)
        |             * 127) AS BIGINT))) AS BIGINT) END AS code_min
        |FROM embeddings""".stripMargin) { (s, dir) =>
      Similarity.quantizeInt8(Tables.load(s, dir, "embeddings"))
        .select(col("vec_id"), col("scale"),
          expr("aggregate(codes, 0L, (a, x) -> a + x)").as("code_sum"),
          array_min(col("codes")).as("code_min"))
    },

    // sequence packing (ops.Packing): concat-then-chunk token packing
    // into 512-token sequences. Oracle is the NAIVE single-partition
    // global window — proving the distributed two-level cumsum computes
    // the identical global running sum
    QDef("llm23_sequence_pack",
      """SELECT doc_id, n_tokens,
        |  CAST((cum - n_tokens) // 512 AS BIGINT) AS seq_id,
        |  CAST((cum - n_tokens) % 512 AS BIGINT) AS seq_offset
        |FROM (SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |    SUM(CAST(len(string_split(text, ' ')) AS BIGINT))
        |      OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM documents)""".stripMargin) { (s, dir) =>
      val d = Tables.load(s, dir, "documents")
      graft.ops.Packing.packSequences(d, "doc_id",
        size(TextAnalysis.tokens(col("text"))), capacity = 512L, bucketSize = 64L)
    },

    // composed training-data pipeline: quality gate -> exact dedup ->
    // per-language corpus statistics, end to end in one plan
    QDef("llm17_pipeline",
      s"""WITH scored AS (
         |  SELECT doc_id, text, lang,
         |    0.5 * (CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
         |      / CAST(len(string_split(text, ' ')) AS DOUBLE))
         |    + 0.2 * (CAST(len(list_intersect(list_distinct(string_split(text, ' ')),
         |         [${TextAnalysis.StopWords.map("'" + _ + "'").mkString(",")}])) AS DOUBLE)
         |      / CAST(len(string_split(text, ' ')) AS DOUBLE))
         |    + 0.3 * LEAST(1.0, CAST(n_chars AS DOUBLE) / 500.0) AS quality,
         |    len(string_split(text, ' ')) AS n_tokens
         |  FROM documents
         |), deduped AS (
         |  SELECT * FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id) AS rn
         |    FROM scored WHERE quality >= 0.55) WHERE rn = 1
         |)
         |SELECT lang, COUNT(*) AS n_docs,
         |  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
         |FROM deduped GROUP BY lang""".stripMargin) { (s, dir) =>
      val scored = TextAnalysis.qualityScore(Tables.load(s, dir, "documents"))
        .withColumn("n_tokens", size(TextAnalysis.tokens(col("text"))))
        .filter(col("quality") >= 0.55)
      Dedup.exact(scored, Seq("text"), "doc_id")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).cast("bigint").as("total_tokens"))
    },

    // REAL image pipeline: encode genuine PNGs (javax.imageio), decode
    // real pixels per partition, histogram the channel bytes. The pixel
    // values are pure integer functions of (media_id, x, y) and PNG is
    // lossless, so the oracle recomputes every decoded byte exactly:
    // channel_sum pins all pixels, top_bin pins the histogram (argmax
    // over counts == argmax over the normalized floats — the division
    // by a shared positive total preserves order and ties, and both
    // engines take the FIRST max on ties)
    QDef("llm12_multimodal_features",
      """WITH g AS (SELECT doc_id AS media_id,
        |    CAST(doc_id % 8 + 2 AS INTEGER) AS w,
        |    CAST(doc_id % 6 + 2 AS INTEGER) AS h
        |  FROM documents),
        |v AS (SELECT media_id, w, h,
        |    flatten(list_transform(range(0, h), y ->
        |      flatten(list_transform(range(0, w), x ->
        |        [(7*media_id + 3*x + 5*y) % 256,
        |         (11*media_id + 17*x + 23*y) % 256,
        |         (29*media_id + 13*x + 19*y) % 256])))) AS vals
        |  FROM g),
        |c AS (SELECT media_id, w, h, vals,
        |    list_transform(range(0, 16), b ->
        |      len(list_filter(vals, x -> x // 16 = b))) AS counts
        |  FROM v)
        |SELECT media_id, w AS width, h AS height,
        |  CAST(w * h AS INTEGER) AS n_pixels,
        |  CAST(list_aggregate(vals, 'sum') AS BIGINT) AS channel_sum,
        |  CAST(list_indexof(counts, list_aggregate(counts, 'max')) - 1 AS INTEGER) AS top_bin
        |FROM c""".stripMargin) { (s, dir) =>
      val media = Multimodal.imageTable(Tables.load(s, dir, "documents"))
      Multimodal.extractFeatures(media)
        .select(col("media_id"), col("meta.width").as("width"),
          col("meta.height").as("height"), col("n_pixels"), col("channel_sum"),
          (array_position(col("features"), array_max(col("features"))) - 1)
            .cast("int").as("top_bin"))
    },

    // frame lengths are pure arithmetic over payload size:
    // len_i = clamp(n - i*ceil(n/4), 0, ceil(n/4))
    QDef("llm13_multimodal_frames",
      """SELECT media_id, frame_idx, frame_len FROM (
        |  SELECT doc_id AS media_id, CAST(i AS INTEGER) AS frame_idx,
        |    CAST(LEAST(GREATEST(n - i * fsz, 0), fsz) AS INTEGER) AS frame_len
        |  FROM (SELECT doc_id, strlen(text) AS n,
        |          GREATEST(1, CAST(CEIL(strlen(text) / 4.0) AS BIGINT)) AS fsz
        |        FROM documents)
        |  CROSS JOIN (SELECT unnest(range(0, 4)) AS i))
        |WHERE frame_len > 0""".stripMargin) { (s, dir) =>
      val media = Multimodal.mediaTable(Tables.load(s, dir, "documents"))
      Multimodal.sampleFrames(media, nFrames = 4)
        .select(col("media_id"), col("frame_idx"), length(col("frame_bytes")).as("frame_len"))
    },

    // exact n-gram Jaccard over a deterministic 1-in-10 doc_id block:
    // the oracle-checkable counterpart of llm08's LSH-candidate version
    // (all-pairs within the block; shingle construction matches
    // TextAnalysis.shingles token-for-token). Deterministic top-25 by
    // (jaccard DESC, id_a, id_b) rather than a threshold — guarantees
    // nonzero compared rows at every SF (a 0.8 cutoff matched nothing,
    // making the oracle check vacuous); jaccard is an exact int/int
    // division so the sort order is identical in both engines
    QDef("llm19_jaccard_block",
      """WITH d AS (SELECT doc_id,
        |    list_distinct(CASE WHEN len(string_split(text, ' ')) < 3
        |      THEN [array_to_string(string_split(text, ' '), ' ')]
        |      ELSE list_transform(range(0, len(string_split(text, ' ')) - 2),
        |             i -> array_to_string(list_slice(string_split(text, ' '), i + 1, i + 3), ' '))
        |      END) AS sh
        |  FROM documents WHERE doc_id % 10 = 0)
        |SELECT id_a, id_b, jaccard FROM (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |      / CAST(len(list_distinct(a.sh || b.sh)) AS DOUBLE) AS jaccard
        |  FROM d a, d b WHERE a.doc_id < b.doc_id)
        |ORDER BY jaccard DESC, id_a, id_b LIMIT 25""".stripMargin) { (s, dir) =>
      // sorted-merge intersection (SortedIntersectCount): shingles are
      // sorted once per doc, each pair costs one allocation-free merge
      // pass; |A∪B| = |A|+|B|-|A∩B| on distinct sets — counts (and so
      // the jaccard doubles) are bit-identical to the hash-based
      // array_intersect/array_union the oracle mirrors
      import graft.functions.VectorFunctions.sorted_intersect_count
      val d = Tables.load(s, dir, "documents").filter(col("doc_id") % 10 === 0)
        .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("__tk"))
        .select(col("doc_id"),
          array_sort(array_distinct(
            TextAnalysis.shinglesFromTokens(col("__tk"), 3))).as("sh"))
      val a = d.select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
      val b = d.select(col("doc_id").as("id_b"), col("sh").as("sh_b"))
      a.join(b, col("id_a") < col("id_b"))
        .withColumn("inter", sorted_intersect_count(col("sh_a"), col("sh_b")))
        .withColumn("jaccard", col("inter").cast("double") /
          (size(col("sh_a")) + size(col("sh_b")) - col("inter")).cast("double"))
        .select(col("id_a"), col("id_b"), col("jaccard"))
        .orderBy(col("jaccard").desc, col("id_a"), col("id_b"))
        .limit(25)
    },

    // near-dup CANONICALIZATION — the step a dedup pipeline ends with:
    // exact prefix-filtered Jaccard self-join (PPJoin canonical order =
    // (df asc, shingle asc); NO false negatives, unlike LSH) -> connected
    // components by min-label propagation -> every doc mapped to the
    // smallest doc_id in its near-dup cluster. The oracle replays the
    // identical edge set (ordered list agg + list_slice prefixes) and
    // closes it with a recursive CTE — so the distributed iterative CC
    // is checked against a declarative transitive closure
    QDef("llm24_dedup_components",
      s"""WITH RECURSIVE ${OracleSql.prefixFilterCtes(0.8)},
        |edges0 AS (SELECT x, y FROM cand
        |  JOIN sh0 sa ON cand.x = sa.doc_id JOIN sh0 sb ON cand.y = sb.doc_id
        |  WHERE CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
        |      / CAST(len(list_distinct(sa.s || sb.s)) AS DOUBLE) >= 0.8),
        |edges AS (SELECT x AS src, y AS dst FROM edges0
        |  UNION SELECT y, x FROM edges0),
        |reach AS (SELECT src AS a, src AS b FROM edges
        |  UNION
        |  SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src)
        |SELECT d.doc_id, COALESCE(c.canon, d.doc_id) AS canon_id
        |FROM documents d LEFT JOIN
        |  (SELECT a AS doc_id, min(b) AS canon FROM reach GROUP BY a) c
        |  USING (doc_id)""".stripMargin) { (s, dir) =>
      Dedup.canonicalize(Tables.load(s, dir, "documents"), "text", "doc_id",
        threshold = 0.8)
    },

    // deterministic domain mixing: content-hash-gated downsampling with
    // per-language keep rates — reproducible across runs/partitionings
    // (mod-poly hash is the oracle-portable gate, like llm21)
    QDef("llm25_domain_mix",
      """SELECT doc_id, lang FROM documents
        |WHERE list_reduce([CAST(0 AS BIGINT)] ||
        |    list_transform(range(1, strlen(text) + 1), i -> CAST(ord(text[i]) AS BIGINT)),
        |    (h, c) -> (h * 131 + c) % 2147483647) % 1000
        |  < CASE lang WHEN 'en' THEN 300 WHEN 'fr' THEN 500 ELSE 1000 END""".stripMargin) { (s, dir) =>
      TextAnalysis.deterministicMix(Tables.load(s, dir, "documents"),
          "text", "lang", Map("en" -> 300, "fr" -> 500), outOf = 1000)
        .select(col("doc_id"), col("lang"))
    },

    // tf-idf top terms per doc, rational variant (tf * N / df — same
    // ranking as the log form, but bit-portable: no libm); ties break
    // by term asc so the top-3 is deterministic
    QDef("llm26_tfidf_topterms",
      """WITH terms AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2),
        |dft AS (SELECT term, count(*) AS df
        |  FROM (SELECT DISTINCT doc_id, term FROM terms) GROUP BY 1),
        |n AS (SELECT count(*) AS n FROM documents)
        |SELECT doc_id, term, score, rank FROM (
        |  SELECT tf.doc_id, tf.term,
        |    CAST(tf.tf AS DOUBLE) * CAST(n.n AS DOUBLE) / CAST(dft.df AS DOUBLE) AS score,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY tf.doc_id
        |      ORDER BY CAST(tf.tf AS DOUBLE) * CAST(n.n AS DOUBLE) / CAST(dft.df AS DOUBLE) DESC,
        |               tf.term) AS INTEGER) AS rank
        |  FROM tf JOIN dft USING (term) CROSS JOIN n)
        |WHERE rank <= 3""".stripMargin) { (s, dir) =>
      TextAnalysis.tfidfTopTerms(Tables.load(s, dir, "documents"),
        "text", "doc_id", k = 3)
    },

    // exact embedding near-dup baseline (all pairs) — the oracle-checkable
    // counterpart of llm11's SRP-LSH version; the quadratic pair join is
    // the correctness reference, not the scale path. Deterministic top-50
    // by (cos DESC, id_a, id_b) rather than a threshold (a 0.9 cutoff
    // matched nothing → vacuous check); accumulators fold over the same
    // least-length range CosineSimilarity truncates to, with an
    // empty-range guard matching the engine's 0.0 zero-norm result
    QDef("llm20_embed_neardup_exact", {
      def fold(u: String, v: String, a: String, b: String) =
        s"CASE WHEN least(len($a), len($b)) = 0 THEN 0.0 ELSE list_reduce(list_transform(range(1, least(len($a), len($b)) + 1), i -> CAST($u[i] AS DOUBLE) * CAST($v[i] AS DOUBLE)), (x, y) -> x + y) END"
      s"""WITH d AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |    ${fold("a.embedding", "b.embedding", "a.embedding", "b.embedding")} AS dot,
         |    ${fold("a.embedding", "a.embedding", "a.embedding", "b.embedding")} AS na,
         |    ${fold("b.embedding", "b.embedding", "a.embedding", "b.embedding")} AS nb
         |  FROM embeddings a, embeddings b WHERE a.vec_id < b.vec_id)
         |SELECT id_a, id_b, cos FROM (
         |  SELECT id_a, id_b, CASE WHEN na = 0.0 OR nb = 0.0 THEN 0.0
         |    ELSE dot / (sqrt(na) * sqrt(nb)) END AS cos FROM d)
         |ORDER BY cos DESC, id_a, id_b LIMIT 50""".stripMargin
    }) { (s, dir) =>
      val e = Tables.load(s, dir, "embeddings")
      val a = e.select(col("vec_id").as("id_a"), col("embedding").as("e_a"))
      val b = e.select(col("vec_id").as("id_b"), col("embedding").as("e_b"))
      a.join(b, col("id_a") < col("id_b"))
        .withColumn("cos", cosine_sim(col("e_a"), col("e_b")))
        .select(col("id_a"), col("id_b"), col("cos"))
        .orderBy(col("cos").desc, col("id_a"), col("id_b"))
        .limit(50)
    }
  )
}
