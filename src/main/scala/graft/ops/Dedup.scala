package graft.ops

import graft.functions.VectorFunctions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Deduplication operators for training-data pipelines, each designed for
  * the 100 TB posture (SURVEY.md §2.D): candidate generation is always
  * sub-quadratic (hash buckets / LSH bands), pair verification is a
  * shuffle join on compact keys, and oversized buckets (degenerate
  * content, hash skew) are capped explicitly rather than silently
  * exploding a task.
  */
object Dedup {

  /** Exact dedup, deterministic survivor: smallest id per identical key.
    * One shuffle on the dedup key. (dropDuplicates keeps an arbitrary
    * row; min-id keeps results stable across runs and cluster sizes.) */
  def exact(df: DataFrame, key: Seq[String], id: String): DataFrame = {
    val w = Window.partitionBy(key.map(col): _*).orderBy(col(id))
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** Exact dedup shuffling only a 64-bit content hash instead of the full
    * payload — the form that matters at 100 TB (shuffle bytes ~ 1% of
    * content). Collision probability 2^-64 per pair; a production run
    * re-verifies survivors' buckets byte-wise if that matters. */
  def exactByHash(df: DataFrame, textCol: String, id: String): DataFrame = {
    val w = Window.partitionBy(col("__h")).orderBy(col(id))
    df.withColumn("__h", xxhash64(col(textCol)))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn", "__h")
  }

  /** MinHash signature as one array column: a single custom-expression
    * pass over the TOKEN array (see MinHashSignature — no shingle strings
    * are materialized, no per-hash re-evaluation of children). */
  def minhashSigArray(textCol: Column, k: Int, shingleN: Int = 3): Column =
    minhash_sig(TextAnalysis.tokens(textCol), k, shingleN)

  /** Backwards-compatible columns `sig_0..sig_{k-1}` view. */
  def minhashSignatures(df: DataFrame, textCol: String, k: Int = 16, shingleN: Int = 3): DataFrame = {
    val withSig = df.withColumn("__sig", minhashSigArray(col(textCol), k, shingleN))
    (0 until k).foldLeft(withSig) { (acc, i) =>
      acc.withColumn(s"sig_$i", element_at(col("__sig"), i + 1))
    }.drop("__sig")
  }

  /** Array of `bands` 64-bit band hashes over a signature-array column —
    * THE banding formula; every consumer (self-join, incremental,
    * streaming) must hash bands identically or their buckets silently
    * stop matching. */
  private[graft] def bandHashArray(sigCol: Column, k: Int, bands: Int): Column = {
    require(bands > 0 && k % bands == 0, s"bands ($bands) must divide k ($k)")
    val r = k / bands
    transform(sequence(lit(0), lit(bands - 1)), b =>
      xxhash64(array_join(transform(slice(sigCol, b * r + 1, lit(r)),
        x => x.cast("string")), ",")))
  }

  /** (__id, band, bh) LSH banding rows for a corpus — the shareable
    * index artifact: the self-join path groups it into buckets, and the
    * incremental path joins a NEW batch's rows against a PERSISTED copy
    * of the corpus's (at 100 TB the index is written bucketed by (band,
    * bh) once and every later batch joins without re-signing the
    * corpus). `shingleN` must match the verification stage's, or the
    * candidate and verify similarities measure different things. */
  private[graft] def bandHashes(df: DataFrame, textCol: String, id: String,
      k: Int, bands: Int, shingleN: Int = 3): DataFrame = {
    val sig = minhashSigArray(col(textCol), k, shingleN)
    // parallelism floor BEFORE the signing pass: tokenize + k-stream
    // MinHash is the CPU-dense per-doc cost and otherwise runs only as
    // wide as the input file count (the canonicalShingleFrames lesson —
    // r17 measured llm08's sign stage as one 0.36 s task on a 1-file
    // corpus). No-op on streaming inputs and on wide scans.
    OpUtils.parallelismFloor(df.select(col(id), col(textCol)))
      .select(col(id).as("__id"), sig.as("__sig"))
      .select(col("__id"), posexplode(bandHashArray(col("__sig"), k, bands)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bh")
  }

  /** Within-bucket (a<b) pairs from banding rows, with the maxBucket
    * guard: buckets larger than `maxBucket` are dropped (degenerate
    * content / hash skew) — the explicit no-silent-quadratic guard. */
  private def pairsFromBands(banded: DataFrame, maxBucket: Int): DataFrame =
    banded.groupBy(col("band"), col("bh"))
      .agg(collect_list(col("__id")).as("ids"))
      .filter(size(col("ids")).between(2, maxBucket))
      .select(explode(expr(
        "filter(flatten(transform(ids, a -> transform(ids, b -> struct(a, b)))), p -> p.a < p.b)"))
        .as("p"))
      .select(col("p.a").as("id_a"), col("p.b").as("id_b"))
      .distinct()

  /** LSH banding: k signatures in `bands` bands of k/bands rows; docs
    * sharing any band hash become candidate pairs (a<b).
    *
    * Plan shape (100 TB posture): one projection computes all signatures
    * and band hashes, one shuffle groups (band, bandHash) buckets, pairs
    * explode map-side inside capped buckets, one final shuffle dedups
    * pairs (see pairsFromBands for the maxBucket guard). */
  def minhashCandidates(df: DataFrame, textCol: String, id: String,
      k: Int = 16, bands: Int = 4, maxBucket: Int = 100,
      shingleN: Int = 3): DataFrame =
    pairsFromBands(bandHashes(df, textCol, id, k, bands, shingleN), maxBucket)

  /** Near-dup pairs by exact n-gram Jaccard over MinHash candidates. */
  def nearDupJaccard(df: DataFrame, textCol: String, id: String,
      threshold: Double, k: Int = 16, bands: Int = 4, shingleN: Int = 3): DataFrame = {
    // candidate pairs are tiny relative to the corpus (that's the point
    // of LSH): broadcast them, and materialize shingles ONLY for docs
    // that appear in some candidate pair (semi-join first) — at 100 TB
    // the expensive per-doc work runs on the ~0.1% of docs that need it
    // candidates materialize once (eager localCheckpoint): they are read
    // twice below (id extraction + final join) and each read would
    // re-run the whole MinHash pipeline
    val cands = broadcast(
      minhashCandidates(df, textCol, id, k, bands, shingleN = shingleN)
        .localCheckpoint(true))
    verifyJaccard(df, cands, textCol, id, threshold, shingleN)
  }

  /** Exact n-gram-Jaccard verification of a (small, checkpointed)
    * candidate-pair set against the documents that appear in it.
    * Shingles materialize ONLY for docs referenced by some candidate
    * (semi-join first) — at 100 TB the expensive per-doc work runs on
    * the ~0.1% of docs that need it. */
  private def verifyJaccard(docs: DataFrame, cands: DataFrame, textCol: String,
      id: String, threshold: Double, shingleN: Int): DataFrame = {
    val candIds = cands.select(explode(array(col("id_a"), col("id_b"))).as(id)).distinct()
    // Checkpointed: joined as both sh_a and sh_b — one shingling pass,
    // not two (and it is tiny: only docs appearing in some candidate)
    // floor applies to the docs scan (before the semi-join: the
    // checkpointed candidate side is an ExistingRDD leaf, which the
    // width estimator treats as out-of-contract); the broadcast
    // semi-join preserves the floored partitioning into the shingle pass
    val sh = OpUtils.parallelismFloor(docs.select(col(id), col(textCol)))
      .join(broadcast(candIds), Seq(id), "left_semi")
      .select(col(id).as("__id"), TextAnalysis.tokens(col(textCol)).as("__tk"))
      .select(col("__id"),
        array_sort(array_distinct(
          TextAnalysis.shinglesFromTokens(col("__tk"), shingleN))).as("sh"))
      .localCheckpoint(true)
    jaccardOverPairs(cands, sh, threshold)
  }

  /** The exact-verify join tail over precomputed (__id, sh) sorted
    * shingle sets. Sorted-merge intersection: one sort per doc upstream,
    * then each pair is an allocation-free merge pass (vs hash-set
    * array_intersect+union). */
  private def jaccardOverPairs(cands: DataFrame, sh: DataFrame,
      threshold: Double): DataFrame =
    cands
      .join(sh.select(col("__id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(sh.select(col("__id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .withColumn("inter", sorted_intersect_count(col("sh_a"), col("sh_b")))
      .withColumn("jaccard", col("inter").cast("double") /
        (size(col("sh_a")) + size(col("sh_b")) - col("inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))

  /** Incremental near-dup: exact-Jaccard pairs between a NEW batch of
    * documents and an already-indexed corpus (plus batch-internal
    * pairs) — WITHOUT re-pairing corpus×corpus. This is the production
    * shape for a growing 100 TB corpus: the corpus's (band, bh) LSH
    * index is computed once (in practice persisted bucketed by (band,
    * bh)); each arriving batch signs only its own documents, equi-joins
    * the index, and verifies the handful of candidates. Cost per batch
    * ~ O(|batch| + |candidates|), independent of corpus size beyond the
    * index join. Buckets above `maxBucket` on EITHER side are dropped
    * (a degenerate-content batch must not cross-explode against its
    * corpus bucket any more than a self-join bucket may pair
    * internally) — the same no-silent-quadratic guard as the self-join
    * path. Ids must be disjoint across corpus and batch; pairs are
    * emitted (id_a < id_b).
    */
  def incrementalNearDup(corpus: DataFrame, batch: DataFrame, textCol: String,
      id: String, threshold: Double, k: Int = 16, bands: Int = 8,
      shingleN: Int = 3, maxBucket: Int = 100): DataFrame = {
    def bucketsOf(banded: DataFrame, out: String) =
      banded.groupBy(col("band"), col("bh"))
        .agg(collect_list(col("__id")).as(out))
        .filter(size(col(out)).between(1, maxBucket))
    // the batch signs ONCE (eager checkpoint): the cross join and the
    // batch-internal pairs both derive from the same banding rows —
    // signing is the dominant per-batch cost, not worth paying twice
    val batchBands = bandHashes(batch, textCol, id, k, bands, shingleN)
      .localCheckpoint(true)
    val cross = bucketsOf(batchBands, "bids")
      .join(bucketsOf(bandHashes(corpus, textCol, id, k, bands, shingleN),
        "cids"), Seq("band", "bh"))
      .select(explode(col("bids")).as("bid"), col("cids"))
      .select(col("bid"), explode(col("cids")).as("cid"))
      .select(least(col("bid"), col("cid")).as("id_a"),
        greatest(col("bid"), col("cid")).as("id_b"))
    val self = pairsFromBands(batchBands, maxBucket)
    val cands = broadcast(
      cross.union(self).distinct().localCheckpoint(true))
    val docs = corpus.select(col(id), col(textCol))
      .unionByName(batch.select(col(id), col(textCol)))
    verifyJaccard(docs, cands, textCol, id, threshold, shingleN)
  }

  /** Persist the near-dup corpus index: the capped (band, bh) buckets
    * and the per-doc sorted shingle sets, committed through [[IndexLog]]
    * with the banding parameters in the commit — build ONCE over the
    * corpus, then dedup every later batch against the files (see
    * [[incrementalNearDupFromIndex]]) without re-signing or
    * re-shingling a single corpus document. A build over an existing
    * index replaces it in one commit. This is the cross-session form of
    * [[incrementalNearDup]]'s in-memory index, the same lifecycle split
    * as `Similarity.buildIvfIndex`. */
  def buildNearDupIndex(corpus: DataFrame, path: String, k: Int = 16,
      bands: Int = 8, shingleN: Int = 3, maxBucket: Int = 100,
      textCol: String = "text", id: String = "doc_id"): Unit = {
    val spark = corpus.sparkSession
    val base = IndexLog.head(spark, path)
    val buckets = IndexLog.write(bandHashes(corpus, textCol, id, k, bands, shingleN)
      .groupBy(col("band"), col("bh"))
      .agg(collect_list(col("__id")).as("cids"))
      .filter(size(col("cids")).between(1, maxBucket)), path, "buckets")
    val shingles = IndexLog.write(
      corpus.select(col(id).as("__id"), TextAnalysis.tokens(col(textCol)).as("__tk"))
        .select(col("__id"), array_sort(array_distinct(
          TextAnalysis.shinglesFromTokens(col("__tk"), shingleN))).as("sh")),
      path, "shingles")
    // parameters ride with the index: a later session banding its batch
    // with different k/bands/shingleN would silently stop matching
    // buckets, so the query path reads them from the commit instead of
    // trusting the caller
    IndexLog.commit(spark, path, "neardup", base,
      Map("buckets" -> buckets, "shingles" -> shingles),
      params = Map("k" -> k.toString, "bands" -> bands.toString,
        "shingleN" -> shingleN.toString, "maxBucket" -> maxBucket.toString))
  }

  /** Incremental near-dup against a PREBUILT index (see
    * [[buildNearDupIndex]]): the batch signs with the index's own
    * banding parameters, equi-joins the persisted buckets, and
    * verifies against the persisted corpus shingle sets — per-batch
    * cost is O(|batch| + |candidates|) with zero corpus recompute.
    * Results are identical to [[incrementalNearDup]] over the same
    * corpus and parameters. */
  def incrementalNearDupFromIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, batch: DataFrame, threshold: Double,
      textCol: String = "text", id: String = "doc_id"): DataFrame = {
    val snap = IndexLog.snapshot(spark, path)
    def param(name: String): Int = snap.params(name).toInt
    val (k, bands, shingleN, maxBucket) =
      (param("k"), param("bands"), param("shingleN"), param("maxBucket"))
    val batchBands = bandHashes(batch, textCol, id, k, bands, shingleN)
      .localCheckpoint(true)
    val batchBuckets = batchBands.groupBy(col("band"), col("bh"))
      .agg(collect_list(col("__id")).as("bids"))
      .filter(size(col("bids")).between(1, maxBucket))
    val cross = batchBuckets
      .join(snap.frame("buckets"), Seq("band", "bh"))
      .select(explode(col("bids")).as("bid"), col("cids"))
      .select(col("bid"), explode(col("cids")).as("cid"))
      .select(least(col("bid"), col("cid")).as("id_a"),
        greatest(col("bid"), col("cid")).as("id_b"))
    val cands = broadcast(
      cross.union(pairsFromBands(batchBands, maxBucket)).distinct()
        .localCheckpoint(true))
    val candIds = cands
      .select(explode(array(col("id_a"), col("id_b"))).as("__id")).distinct()
    val batchSh = batch
      .select(col(id).as("__id"), TextAnalysis.tokens(col(textCol)).as("__tk"))
      .select(col("__id"), array_sort(array_distinct(
        TextAnalysis.shinglesFromTokens(col("__tk"), shingleN))).as("sh"))
    val sh = snap.frame("shingles").unionByName(batchSh)
      .join(broadcast(candIds), Seq("__id"), "left_semi")
      .localCheckpoint(true)
    jaccardOverPairs(cands, sh, threshold)
  }

  /** SimHash near-dup: 64-bit signature; pairs within `maxHamming` bits.
    * Candidate generation: pigeonhole on 16-bit chunks — hamming<=3 over
    * 64 bits guarantees at least one of the 4 chunks is identical, so an
    * equi-join per chunk finds all such pairs sub-quadratically. */
  def simhashNearDup(df: DataFrame, textCol: String, id: String,
      maxHamming: Int = 3, portable: Boolean = false): DataFrame = {
    require(maxHamming <= 3, "chunk pigeonhole holds for maxHamming <= 3")
    // portable=true swaps the xxhash64 bit votes for the modular
    // polynomial votes (simhash64_poly) — identical algorithm, but every
    // signature (and so the full hamming-join pair set) is replayable in
    // ANSI SQL, which is what lets the oracle gate check this operator
    // end-to-end rather than rows-only.
    val sigFn: Column => Column = if (portable) simhash64_poly else simhash64
    val sig = df.select(col(id), sigFn(TextAnalysis.tokens(col(textCol))).as("sig"))
    val chunked = sig.select(col(id), col("sig"),
      explode(array((0 until 4).map(c =>
        struct(lit(c).as("c"), shiftrightunsigned(col("sig"), c * 16)
          .bitwiseAND(lit(0xFFFFL)).as("v"))): _*)).as("ck"))
      .select(col(id), col("sig"), col("ck.c").as("c"), col("ck.v").as("v"))
    val l = chunked.select(col(id).as("id_a"), col("sig").as("sig_a"), col("c"), col("v"))
    val r = chunked.select(col(id).as("id_b"), col("sig").as("sig_b"),
      col("c").as("c2"), col("v").as("v2"))
    l.join(r, col("c") === col("c2") && col("v") === col("v2") && col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** EXACT Jaccard similarity self-join via prefix filtering (the
    * PPJoin/AllPairs recipe) — unlike MinHash-LSH candidates this has NO
    * false negatives: for jaccard(A,B) >= t the two docs must share at
    * least one shingle among the first |A| - ceil(t*|A|) + 1 of their
    * shingle lists in a COMMON canonical order. Canonical order = (doc
    * frequency asc, shingle asc): rare shingles land in the prefixes, so
    * prefix buckets stay tiny while common "stop shingles" never generate
    * candidates. Cost: one df aggregation + a prefix-bucket equi-join +
    * one exact verify per candidate — sub-quadratic wherever near-dup
    * density is (near-dups are rare at 100 TB; the candidate count tracks
    * the true pair count, not n^2).
    *
    * Every step is replayable in ANSI SQL (ordered list agg + list_slice),
    * so the result is DuckDB-oracleable — the llm24 query does exactly
    * that. Returns (id_a, id_b, jaccard) with id_a < id_b. */
  def jaccardSelfJoinExact(df: DataFrame, textCol: String, id: String,
      threshold: Double, shingleN: Int = 3): DataFrame = {
    require(threshold > 0 && threshold <= 1, "threshold must be in (0, 1]")
    val (distinctSh, inv, canon) =
      canonicalShingleFrames(df, textCol, id, shingleN)
    // prefix feeds both sides of the candidate self-join, but the two
    // shuffle exchanges are IDENTICAL subtrees, so ReuseExchange
    // computes the canonical-order pass once — no barrier needed here
    // (r17: an explicit localCheckpoint measured ~2× SLOWER — it
    // materialized rows the reused exchange never re-reads)
    val prefix = canon.select(col(id),
      explode(expr(prefixSliceExpr(threshold))).as("shingle"))
    val cands = prefix.select(col(id).as("id_a"), col("shingle"))
      .join(prefix.select(col(id).as("id_b"), col("shingle")), "shingle")
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
    // exact verify over lexicographically sorted sets (sorted-merge count)
    val sortedSh = distinctSh.select(col(id), array_sort(col("sh")).as("ss"))
    cands
      .join(sortedSh.select(col(id).as("id_a"), col("ss").as("sh_a")), "id_a")
      .join(sortedSh.select(col(id).as("id_b"), col("ss").as("sh_b")), "id_b")
      .withColumn("inter", sorted_intersect_count(col("sh_a"), col("sh_b")))
      .withColumn("jaccard", col("inter").cast("double") /
        (size(col("sh_a")) + size(col("sh_b")) - col("inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Containment-aware CURATION: drop every document that is contained
    * (≥ `threshold` of its shingles) in a STRICTLY LONGER document —
    * ties broken toward the smaller container id — and keep the rest.
    * The orientation makes the rule one-pass and total: a
    * mutual-containment pair (near-identical docs) keeps exactly one
    * member, and a kept/pruned decision never depends on another doc's
    * decision (prune if ANY qualifying container exists — the standard
    * greedy; a container pruned by its own bigger container still
    * prunes its containees, which is the conservative choice for
    * training data). Length = the `sizeCol` column (chars), not the
    * shingle count, so the decision is replayable from stored metadata.
    *
    * Scale posture: the pair frame is [[containmentSelfJoinExact]]'s
    * (sub-quadratic in ordinary corpora); the size joins broadcast the
    * pair side and the final anti-join broadcasts the pruned-id set —
    * the corpus is never shuffled. Because a BOILERPLATE-HEAVY corpus
    * (many docs sharing one template) can make the pair frame
    * near-quadratic, the broadcasts are bounded LOUD by
    * `spark.graft.dedup.containmentPairCap` (the pruned-id set is ≤ the
    * pair count, so one cap bounds all three broadcasts) instead of
    * OOMing the driver — the same fail-loud discipline as the
    * append/delete edge caps. */
  def containmentPrune(df: DataFrame, textCol: String, id: String,
      sizeCol: String, threshold: Double): DataFrame = {
    val spark = df.sparkSession
    val pairCap = spark.conf
      .get("spark.graft.dedup.containmentPairCap", "4000000").toInt
    // checkpoint: the cap probe + two broadcast consumers would each
    // re-run the containment join's full lineage otherwise
    val pairs = containmentSelfJoinExact(df, textCol, id, threshold)
      .localCheckpoint(true)
    val nPairs = pairs.limit(pairCap + 1).count()
    require(nPairs <= pairCap,
      s"containmentPrune: containment pair frame exceeds " +
        s"spark.graft.dedup.containmentPairCap=$pairCap (count capped at " +
        "cap+1) — a boilerplate-heavy corpus makes the pair frame " +
        "near-quadratic and these broadcasts driver-sized; raise the " +
        "knob, strip the shared template first, or prune in batches")
    val sizes = df.select(col(id), col(sizeCol))
    val pruned = sizes
      .select(col(id).as("contained_id"), col(sizeCol).as("__na"))
      .join(broadcast(pairs), "contained_id")
      .join(broadcast(sizes
        .select(col(id).as("container_id"), col(sizeCol).as("__nb"))
        .join(broadcast(pairs.select(col("container_id")).distinct()),
          Seq("container_id"), "left_semi")), "container_id")
      .filter(col("__nb") > col("__na") ||
        (col("__nb") === col("__na") &&
          col("container_id") < col("contained_id")))
      .select(col("contained_id").as(id)).distinct()
    df.join(broadcast(pruned), Seq(id), "left_anti")
  }

  /** (distinctSh, inv, canon): the per-doc distinct shingle sets, their
    * inverted form, and the df-canonical ordered arrays — the shared
    * front half of [[jaccardSelfJoinExact]] and
    * [[containmentSelfJoinExact]]. distinctSh is materialized once
    * (eager localCheckpoint): three consumers (dfreq, canon, the
    * verify-side sorted arrays) would otherwise each re-run the full
    * scan+tokenize+shingle lineage — three corpus passes at scale.
    * Parallelism floor BEFORE tokenize+shingle: the narrow shingle
    * stage (the CPU-dense part) otherwise runs only as wide as the
    * input file count (round-10 adjudication: 2.0x on a 2-file
    * layout). */
  private def canonicalShingleFrames(df: DataFrame, textCol: String,
      id: String, shingleN: Int): (DataFrame, DataFrame, DataFrame) = {
    val distinctSh = OpUtils.parallelismFloor(
        df.select(col(id), col(textCol)))
      .select(col(id), TextAnalysis.tokens(col(textCol)).as("__tk"))
      .select(col(id),
        array_distinct(TextAnalysis.shinglesFromTokens(col("__tk"), shingleN)).as("sh"))
      .localCheckpoint(true)
    val inv = distinctSh.select(col(id), explode(col("sh")).as("shingle"))
    val dfreq = inv.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
    // canonical (df asc, shingle asc) order via sort_array over structs
    val canon = inv.join(dfreq, "shingle")
      .groupBy(col(id))
      .agg(expr(CanonicalSortExpr).as("s"))
    (distinctSh, inv, canon)
  }

  /** EXACT containment self-join — the asymmetric near-dup Jaccard
    * structurally misses: a short doc A embedded in a longer doc B
    * (page + boilerplate shell, quote + source article, chunk + full
    * text) has jaccard ≈ |A|/|B| — far below any usable threshold even
    * when every shingle of A appears in B — while containment
    * |A∩B| / |A| reads ~1. Returns ordered pairs
    * `(contained_id, container_id, containment ≥ t)`, both directions
    * when both clear t (near-identical docs).
    *
    * Prefix-filter completeness transfers to the CONTAINED side only:
    * |A∩B| ≥ ceil(t·|A|) forces at least one shared shingle among A's
    * first |A| − ceil(t·|A|) + 1 canonical positions (pigeonhole — the
    * SAME slice formula as the Jaccard join), with no such bound on B
    * (B's overlap fraction can be arbitrarily small). So the contained
    * side probes its PREFIX against the container side's FULL inverted
    * index. Candidate cost stays sub-quadratic for the same reason the
    * Jaccard join's does: the df-ascending canonical order puts RARE
    * shingles in prefixes, so each probe bucket pairs df_prefix(g) ·
    * df(g) rows with df_prefix(g) small by construction; the full-index
    * side is the inv frame the df aggregation already materialized. */
  def containmentSelfJoinExact(df: DataFrame, textCol: String, id: String,
      threshold: Double, shingleN: Int = 3): DataFrame = {
    require(threshold > 0 && threshold <= 1, "threshold must be in (0, 1]")
    val (distinctSh, inv, canon) =
      canonicalShingleFrames(df, textCol, id, shingleN)
    val prefix = canon.select(col(id),
      explode(expr(prefixSliceExpr(threshold))).as("shingle"))
    val cands = prefix.select(col(id).as("id_a"), col("shingle"))
      .join(inv.select(col(id).as("id_b"), col("shingle")), "shingle")
      .filter(col("id_a") =!= col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
    val sortedSh = distinctSh.select(col(id), array_sort(col("sh")).as("ss"))
    cands
      .join(sortedSh.select(col(id).as("id_a"), col("ss").as("sh_a")), "id_a")
      .join(sortedSh.select(col(id).as("id_b"), col("ss").as("sh_b")), "id_b")
      .withColumn("inter", sorted_intersect_count(col("sh_a"), col("sh_b")))
      .withColumn("containment",
        col("inter").cast("double") / size(col("sh_a")).cast("double"))
      .filter(col("containment") >= threshold)
      .select(col("id_a").as("contained_id"), col("id_b").as("container_id"),
        col("containment"))
  }

  /** Connected components over an undirected edge list. Two algorithms
    * behind one output contract ((id, label), label = smallest reachable
    * node id):
    *
    *  - `largeStar = true` (default): the large-star/small-star
    *    alternation (Kiveris et al., "Connected Components in MapReduce
    *    and Beyond"): each round contracts strictly-larger neighbors
    *    onto the neighborhood minimum (large-star) then folds the rest
    *    (small-star), roughly squaring label reach — O(log d) rounds.
    *    A 10k-node chain converges in ~14 rounds instead of failing the
    *    50-round cap, and real near-dup graphs settle in fewer, cheaper
    *    rounds than diameter-bound propagation (ScaleSmoke pins the
    *    round-count drop; the equivalence spec pins label parity on
    *    random graphs).
    *  - `largeStar = false`: min-label propagation. Rounds = graph
    *    diameter, each ONE join + ONE min-aggregation — can win on
    *    known-tiny-diameter graphs where total rounds ≤ 3.
    *
    * Both checkpoint per round (lineage truncation) and fail loud past
    * `maxIters` instead of looping. */
  def connectedComponents(edges: DataFrame, srcCol: String = "src",
      dstCol: String = "dst", maxIters: Int = 50,
      largeStar: Boolean = true): DataFrame =
    if (largeStar) connectedComponentsStars(edges, srcCol, dstCol, maxIters)._1
    else connectedComponentsMinLabel(edges, srcCol, dstCol, maxIters)._1

  private[graft] def connectedComponentsMinLabel(edges: DataFrame,
      srcCol: String = "src", dstCol: String = "dst",
      maxIters: Int = 50): (DataFrame, Int) = {
    // input checkpoint first: the self-union below references the edge
    // plan twice in one DAG (no subtree reuse across union branches),
    // which would run the caller's similarity self-join twice
    val fwd = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .localCheckpoint(true)
    val sym = fwd.union(fwd.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().localCheckpoint(true)
    var labels = sym.select(col("src").as("id")).distinct()
      .withColumn("label", col("id")).localCheckpoint(true)
    // min-label propagation only ever LOWERS labels, so the label sum
    // strictly decreases until the fixpoint — an unchanged sum IS
    // convergence. One tiny aggregate per round instead of a
    // changed-rows join (decimal sum: overflow-proof at any id scale).
    def labelSum(df: DataFrame): java.math.BigDecimal = {
      val v = df.agg(sum(col("label").cast("decimal(38,0)"))).head().getDecimal(0)
      if (v == null) java.math.BigDecimal.ZERO else v
    }
    var prevSum = labelSum(labels)
    var iters = 0
    var converged = sym.isEmpty
    while (!converged) {
      require(iters < maxIters,
        s"connectedComponents did not converge within $maxIters rounds")
      val msgs = sym.join(labels, sym("src") === labels("id"))
        .select(col("dst").as("id"), col("label"))
      val next = labels.select(col("id"), col("label")).union(msgs)
        .groupBy(col("id")).agg(min(col("label")).as("label"))
        .localCheckpoint(true)
      val nextSum = labelSum(next)
      converged = nextSum.compareTo(prevSum) == 0
      prevSum = nextSum
      labels = next
      iters += 1
    }
    (labels, iters)
  }

  /** The O(log d) star-contraction rounds (see [[connectedComponents]]).
    * State is the EDGE set, kept in canonical (src > dst) orientation;
    * at the fixpoint it is a star forest — every edge points a node at
    * its component's minimum — from which the (id, label) output reads
    * off directly. Convergence = edge set unchanged (count + one-sided
    * except; both tiny once stars form). */
  private[graft] def connectedComponentsStars(edges: DataFrame,
      srcCol: String = "src", dstCol: String = "dst",
      maxIters: Int = 50): (DataFrame, Int) = {
    // checkpoint the INPUT first: allNodes and the canonical edge set
    // below are separate eager materializations, and without this each
    // would re-execute the upstream edge plan — for near-dup callers
    // that plan is the expensive similarity self-join (llm24's
    // dominant term ran twice)
    val fwd = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .localCheckpoint(true)
    // every endpoint is a node — including self-loop-only ones, which
    // label themselves (parity with the min-label form's output)
    val allNodes = fwd.select(col("src").as("id"))
      .union(fwd.select(col("dst").as("id"))).distinct().localCheckpoint(true)
    // canonical orientation (larger, smaller) — one row per undirected edge
    var cur = fwd.filter(col("src") =!= col("dst"))
      .select(greatest(col("src"), col("dst")).as("src"),
        least(col("src"), col("dst")).as("dst"))
      .distinct().localCheckpoint(true)
    def symmetrize(e: DataFrame): DataFrame =
      e.union(e.select(col("dst").as("src"), col("src").as("dst")))
    // m(u) = min(N(u) ∪ {u}) per node, from the symmetric view
    def mins(sym: DataFrame): DataFrame =
      sym.groupBy(col("src")).agg(min(col("dst")).as("__mn"))
        .select(col("src"), least(col("__mn"), col("src")).as("m"))
    var iters = 0
    var converged = cur.isEmpty
    while (!converged) {
      require(iters < maxIters,
        s"connectedComponents(largeStar) did not converge within $maxIters rounds")
      // LARGE-STAR: (v, m(u)) for every neighbor v > u — strictly-larger
      // neighbors re-point at the neighborhood minimum
      val sym1 = symmetrize(cur)
      val large = sym1.join(mins(sym1), "src")
        .filter(col("dst") > col("src"))
        .select(col("dst").as("src"), col("m").as("dst"))
        .filter(col("src") =!= col("dst"))
        .distinct().localCheckpoint(true)
      // SMALL-STAR: (v, m(u)) for every v ∈ N(u) ∪ {u}, v ≤ u, v ≠ m —
      // folds u and its smaller neighbors onto the minimum
      val sym2 = symmetrize(large)
      val m2 = mins(sym2)
      val viaNbr = sym2.join(m2, "src")
        .filter(col("dst") <= col("src") && col("dst") =!= col("m"))
        .select(col("dst").as("src"), col("m").as("dst"))
      val viaSelf = m2.filter(col("src") =!= col("m"))
        .select(col("src"), col("m").as("dst"))
      val next = viaNbr.union(viaSelf)
        .select(greatest(col("src"), col("dst")).as("src"),
          least(col("src"), col("dst")).as("dst"))
        .filter(col("src") =!= col("dst"))
        .distinct().localCheckpoint(true)
      // fixpoint test: same count and nothing new ⇒ identical sets
      converged = next.count() == cur.count() &&
        next.exceptAll(cur).isEmpty
      cur = next
      iters += 1
    }
    // star forest → labels: leaf v gets its root, roots (and any node
    // absent from the final edges) label themselves
    val leaf = cur.select(col("src").as("id"), col("dst").as("label"))
    val labels = allNodes.join(leaf, Seq("id"), "left")
      .select(col("id"), coalesce(col("label"), col("id")).as("label"))
    (labels, iters)
  }

  /** Near-dup canonicalization — the step an exact/fuzzy dedup pipeline
    * actually ends with: near-duplication is transitive in effect (A~B,
    * B~C => one cluster), so each doc maps to the smallest doc id in its
    * connected near-dup cluster and a pipeline keeps `doc_id == canon_id`
    * rows. Docs in no cluster are their own canon. */
  def canonicalize(df: DataFrame, textCol: String, id: String,
      threshold: Double, shingleN: Int = 3): DataFrame = {
    val edges = jaccardSelfJoinExact(df, textCol, id, threshold, shingleN)
    val comp = connectedComponents(edges, "id_a", "id_b")
      .select(col("id").as(id), col("label").as("__canon"))
    df.select(col(id)).join(comp, Seq(id), "left")
      .select(col(id), coalesce(col("__canon"), col(id)).as("canon_id"))
  }

  /** Quality-aware SURVIVOR selection over near-dup clusters — the
    * decision production dedup actually makes: a cluster keeps its
    * BEST-quality member, not an arbitrary one (min-id keeps whatever
    * the crawl happened to fetch first; a boilerplate-ridden copy can
    * shadow the clean original). Score = distinct-token ratio (the
    * repetition signal, integer-count arithmetic so the oracle replays
    * it bit-exactly); survivor = argmax(score, tie → min id) per
    * cluster. Cost on top of [[canonicalize]]: one narrow per-doc score
    * pass and one row_number window partitioned by the 8-byte canon
    * key — clusters are near-dup groups (tiny), so no skewed-partition
    * risk at 100 TB. Returns (id, canon_id, score, keep). */
  def bestOfCluster(df: DataFrame, textCol: String, id: String,
      threshold: Double, shingleN: Int = 3): DataFrame = {
    val labeled = canonicalize(df, textCol, id, threshold, shingleN)
    val tk = TextAnalysis.tokens(col(textCol))
    val scored = df.select(col(id),
      (size(array_distinct(tk)).cast("double") /
        size(tk).cast("double")).as("score"))
    val w = Window.partitionBy(col("canon_id"))
      .orderBy(col("score").desc, col(id).asc)
    labeled.join(scored, Seq(id))
      .withColumn("keep", row_number().over(w) === 1)
      .select(col(id), col("canon_id"), col("score"), col("keep"))
  }

  /** Persist a near-dup CLUSTER INDEX at `path`, committed through
    * [[IndexLog]]: table `verdicts` holds one row per document — cluster
    * label, cluster size, quality score, survivor decision (`id,
    * canon_id, cluster_size, score, keep`) — plus the
    * candidate-generation artifacts [[appendToClusterIndex]] maintains
    * incrementally: `dfreq` (the shingle document-frequency map, FROZEN
    * at build time — every member array before and after any append is
    * ordered by this one map, which is all the prefix-filter guarantee
    * needs; order quality drifts as the corpus grows, which is an
    * efficiency concern, never a correctness one, and the rebuild
    * trigger), `shingles` (per-member canonical + lexicographic shingle
    * arrays), and `prefix` (the prefix-filter inverted index). The
    * threshold, shingle size and bucket count ride in the commit's
    * params. A build over an existing index replaces it in one commit.
    *
    * The build-once/serve-many form of the CC family: the transitive
    * closure (the expensive part — candidate join + fixed point) runs
    * ONCE at build time, every curation query after it is a plain
    * scan of `verdicts`, and a new crawl batch folds in via
    * [[appendToClusterIndex]] without re-pairing the corpus — exactly
    * how a production lake consumes dedup at 100 TB. The closure and
    * scoring are [[bestOfCluster]]'s (one CC pass). */
  def buildClusterIndex(df: DataFrame, path: String, textCol: String = "text",
      id: String = "doc_id", threshold: Double = 0.8,
      shingleN: Int = 3, nBuckets: Int = 16): Unit = {
    val spark = df.sparkSession
    require(nBuckets > 0,
      s"buildClusterIndex: nBuckets must be positive, got $nBuckets")
    val base = IndexLog.head(spark, path)
    val wc = Window.partitionBy(col("canon_id"))
    // verdicts are cell-partitioned by vb = pmod(canon_id, nBuckets) so
    // that appendToClusterIndex can rewrite only the buckets whose
    // clusters an append touches (O(affected) per append, not O(corpus)
    // — the 100 TB maintenance posture; at lake scale pass nBuckets in
    // the thousands). repartition(vb) keeps file count at one per
    // bucket per shuffle partition instead of buckets x partitions.
    val verdicts = IndexLog.write(bestOfCluster(df, textCol, id, threshold, shingleN)
      .withColumn("cluster_size", count(lit(1)).over(wc))
      .select(col(id), col("canon_id"), col("cluster_size"), col("score"),
        col("keep"))
      .withColumn("vb", verdictBucket(col("canon_id"), nBuckets))
      .repartition(col("vb")), path, "verdicts", Some("vb"))
    // two consumers each (dfreq + member arrays; the dfreq write + the
    // arrays' join) — checkpoint or each re-runs its input (the
    // jaccardSelfJoinExact discipline)
    val distinctSh = memberShingles(df, textCol, id, shingleN)
      .localCheckpoint(true)
    val dfreq = distinctSh.select(col("__mid"), explode(col("sh")).as("shingle"))
      .groupBy(col("shingle")).agg(count(lit(1)).as("df"))
      .localCheckpoint(true)
    IndexLog.commit(spark, path, "clusterbuild", base,
      writeMemberArtifacts(path, base.fold(1L)(_.version + 1), distinctSh,
        dfreq, threshold)._1 ++
        Map("verdicts" -> verdicts, "dfreq" -> IndexLog.write(dfreq, path, "dfreq")),
      params = Map("threshold" -> threshold.toString,
        "shingleN" -> shingleN.toString, "nBuckets" -> nBuckets.toString))
  }

  /** (threshold, shingleN, nBuckets) of a cluster index's commit. */
  private def clusterParams(snap: IndexLog.Snapshot): (Double, Int, Int) =
    (snap.params("threshold").toDouble, snap.params("shingleN").toInt,
      snap.params("nBuckets").toInt)

  /** verdicts cell of a cluster label — ONE formula with [[bucketOf]]
    * (Spark side / driver side): the affected-bucket set and the
    * written partition column must agree or a commit replaces the
    * wrong buckets' files. */
  private def verdictBucket(label: Column, nBuckets: Int): Column =
    pmod(label, lit(nBuckets.toLong)).cast("int")

  /** Driver-side twin of [[verdictBucket]] (pmod == floorMod). */
  private def bucketOf(label: Long, nBuckets: Int): Int =
    java.lang.Math.floorMod(label, nBuckets.toLong).toInt

  /** (__mid, sh): per-doc distinct shingle sets. */
  private def memberShingles(df: DataFrame, textCol: String, id: String,
      shingleN: Int): DataFrame =
    df.select(col(id).as("__mid"),
      TextAnalysis.tokens(col(textCol)).as("__tk"))
      .select(col("__mid"), array_distinct(
        TextAnalysis.shinglesFromTokens(col("__tk"), shingleN)).as("sh"))

  /** Write a member batch's `shingles` + `prefix` files, arrays ordered
    * by the index's FROZEN df map (shingles the map has never seen
    * order first at df 0 — consistency, not the particular order, is
    * what prefix-filter completeness needs). Every row lands in cell
    * `__app` = `version`, the commit version of the op that writes it,
    * so an id's freshest arrays are those in its highest cell
    * ([[freshest]]). Returns the written tables and the batch's
    * `(__mid, s, ss, __app)` rows (checkpointed), which the op itself
    * reads before its commit lists the files. */
  private def writeMemberArtifacts(path: String, version: Long,
      distinctSh: DataFrame, dfreq: DataFrame,
      threshold: Double): (Map[String, IndexLog.Table], DataFrame) = {
    val canon = distinctSh.select(col("__mid"), explode(col("sh")).as("shingle"))
      .join(dfreq, Seq("shingle"), "left")
      .na.fill(0L, Seq("df"))
      .groupBy(col("__mid"))
      .agg(expr(CanonicalSortExpr).as("s"),
        expr("array_sort(collect_list(shingle))").as("ss"))
      .withColumn("__app", lit(version))
      .localCheckpoint(true) // two writers below, and the op's own reads
    (Map("shingles" -> IndexLog.write(canon, path, "shingles", Some("__app")),
      "prefix" -> IndexLog.write(prefixRows(canon, threshold), path, "prefix",
        Some("__app"))),
      canon)
  }

  /** `(__mid, shingle, __app)` prefix-filter rows of member arrays. */
  private def prefixRows(canon: DataFrame, threshold: Double): DataFrame =
    canon.select(col("__mid"),
      explode(expr(prefixSliceExpr(threshold))).as("shingle"), col("__app"))

  /** The (df asc, shingle asc) canonical ordering and the
    * prefix-filter slice — ONE definition each: the index's candidate
    * generation and the build's verdict generation must use byte-
    * identical formulas or full-rebuild equivalence silently breaks
    * (the bandHashArray lesson, applied to the exact path). */
  private val CanonicalSortExpr =
    "transform(sort_array(collect_list(struct(df, shingle))), p -> p.shingle)"
  private def prefixSliceExpr(threshold: Double): String =
    s"slice(s, 1, cast(cast(size(s) as bigint) - cast(ceil(cast($threshold as double) * cast(size(s) as double)) as bigint) + 1 as int))"

  /** Fold a NEW document batch into a persisted cluster index — the
    * incremental maintenance op next to build, with FULL-REBUILD
    * EQUIVALENCE: the resulting `verdicts` are row-identical to
    * [[buildClusterIndex]] over corpus ∪ batch (llm74 pins it against
    * DuckDB's from-scratch closure; the spec pins it against a Spark
    * full rebuild). Equivalence holds because candidates are EXACT
    * (the same zero-false-negative prefix filter as the build, batch
    * prefixes joined against the persisted `prefix` inverted index
    * plus a batch-internal exact self-join), labels are min-reachable
    * ids under both procedures (a batch doc BRIDGING two existing
    * clusters merges them — old rows relabel), and size/score/keep
    * recompute over exactly the affected clusters.
    *
    * 100 TB posture: per-append work is O(batch + candidates + touched
    * clusters) — the corpus is never re-paired; corpus-wide reads are
    * confined to COLUMN-PRUNED id/label scans (the identity audit and
    * the candidate semi-joins), and the verdict REWRITE touches only
    * the `vb` buckets whose clusters the append affects (relabel
    * sources, merge targets, batch labels). The merge union-find runs
    * driver-side over the batch-bounded edge set (the llm44
    * incremental contract), bounded loud by
    * `spark.graft.dedup.appendEdgeCap`.
    *
    * Crash safety, single-writer by contract: the batch's artifacts and
    * the affected buckets' new verdicts land in fresh writes, and ONE
    * [[IndexLog]] commit lists them in place of those buckets' old
    * files (every other bucket's files carried over), recording the
    * batch's deterministic op id (a digest of its id set). Every reader
    * sees the index before or after the append, never a bucket set in
    * between; a crash before the commit leaves the append unapplied,
    * and its retry redoes it. A retry short-circuits when the op id is
    * recorded AND every batch id is live — the op id alone is stale
    * after a later delete of the same ids (the documented append ->
    * delete -> re-append lifecycle re-executes; a retry of the
    * committed append no-ops). */
  def appendToClusterIndex(spark: SparkSession, path: String,
      batch: DataFrame, textCol: String = "text",
      id: String = "doc_id"): Unit = {
    import spark.implicits._
    if (batch.isEmpty) return
    require(batch.schema(id).dataType ==
        org.apache.spark.sql.types.LongType,
      s"appendToClusterIndex: $id must be LongType (the driver-side " +
        s"merge union-find is long-keyed), got ${batch.schema(id).dataType}")
    val snap = IndexLog.snapshot(spark, path)
    val (threshold, shingleN, nBuckets) = clusterParams(snap)
    val batchSh = memberShingles(batch, textCol, id, shingleN)
      .localCheckpoint(true) // consumed by id collect + artifacts + joins
    val batchIds = batchSh.select(col("__mid")).collect().map(_.getLong(0))
    // the append id is DETERMINISTIC in the batch's id set, so a retry
    // of the same batch finds it among the commit's op ids
    val appId = appendIdOf(batchIds)
    val verdicts = snap.frame("verdicts")
    // which batch ids are currently indexed? One column-pruned verdict
    // id scan. Orientation matters for shuffle posture: the corpus-
    // sized verdict id scan STREAMS against the broadcast batch ids (a
    // batch⋉verdicts semi-join would sort-merge the corpus ids instead
    // — only the right side of a semi-join can be the broadcast build
    // side)
    val batchIdsDf = batchIds.toSeq.toDF(id)
    val live = verdicts.select(col(id))
      .join(broadcast(batchIdsDf), Seq(id), "left_semi")
      .collect().map(_.getLong(0))
    // idempotent-retry no-op requires the recorded op id AND liveness:
    // the op id alone is STALE after a later delete of the same ids (the
    // documented append -> delete -> re-append lifecycle would
    // otherwise silently no-op on the first append's op id and leave
    // the docs unindexed). Recorded + all-live = a retry of the
    // committed append; recorded + none-live = a genuinely new
    // re-append after a delete (proceed); recorded + some-live =
    // ambiguous partial state — fall through to the loud
    // already-indexed check below.
    if (snap.ops.contains(appId) && live.length == batchIds.length)
      return // this exact batch committed and is fully live — retry no-op
    // an id is the document's identity: appending one that is already
    // indexed — or twice within one batch — would split its verdict
    // across rows — fail loud on both
    require(live.isEmpty,
      s"appendToClusterIndex($path): batch contains already-indexed $id ${live.headOption}")
    val batchDup = batch.groupBy(col(id)).count()
      .filter(col("count") > 1).limit(1).collect()
    require(batchDup.isEmpty,
      s"appendToClusterIndex($path): batch contains duplicate $id ${batchDup.headOption.map(_.get(0))}")

    val (artifacts, batchArrays) = writeMemberArtifacts(path, snap.version + 1,
      batchSh, snap.frame("dfreq"), threshold)
    // exact candidates: batch prefixes vs the persisted inverted index
    // (cross) and vs themselves (batch-internal). Shuffle posture: the
    // batch prefix frame is batch-bounded — BROADCAST it so the
    // corpus-sized inverted index STREAMS through the probe (un-hinted,
    // this sort-merge-joined the whole prefix index per append); the
    // anti-join rides the same streamed pass with the batch ids
    // broadcast. One corpus-linear SCAN of prefix per append is
    // intrinsic (the probe target); corpus-linear SHUFFLE is not.
    val batchPrefix = prefixRows(batchArrays, threshold)
    // the anti-batch filter keeps a re-appended id's stale rows out of
    // the cross probe (batch-internal pairs are candsSelf's job).
    // Deleted docs may still surface as candidates here: they verify
    // wastefully but can never become edges, because the crossEdges
    // join below is an INNER join against live verdicts (compaction
    // bounds the waste).
    val indexPrefix = snap.frame("prefix")
      .join(broadcast(batchIdsDf.select(col(id).as("__mid"))),
        Seq("__mid"), "left_anti")
    val candsCross = broadcast(
        batchPrefix.select(col("__mid").as("bid"), col("shingle")))
      .join(indexPrefix.select(col("__mid").as("oid"), col("shingle")), "shingle")
      .select(col("bid"), col("oid")).distinct()
    val candsSelf = batchPrefix.select(col("__mid").as("bid"), col("shingle"))
      .join(batchPrefix.select(col("__mid").as("oid"), col("shingle")), "shingle")
      .filter(col("bid") < col("oid"))
      .select(col("bid"), col("oid")).distinct()
    // exact verify over lexicographic arrays (sorted-merge count); the
    // batch's own arrays are not listed yet, and sit in the highest cell
    val shingles = snap.frame("shingles").unionByName(batchArrays)
    def verified(cands: DataFrame): DataFrame =
      verifyAgainstShingles(shingles, cands, threshold)
    // edges to EXISTING members map to their cluster labels. The edge
    // set is batch-bounded by the incremental contract, but a
    // pathological batch (every doc near-dup of many distinct clusters)
    // could still balloon the driver collect — bound it LOUD: limit to
    // cap+1 rows (driver memory stays bounded even when over) and fail
    // naming the knob
    val edgeCap = spark.conf
      .get("spark.graft.dedup.appendEdgeCap", "4000000").toInt
    val crossEdges = verdicts.select(col(id).as("oid"), col("canon_id"))
      .join(broadcast(verified(candsCross)), "oid") // corpus side streams
      .select(col("bid"), col("canon_id").as("other")).distinct()
      .limit(edgeCap + 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val selfEdges = verified(candsSelf)
      .limit(edgeCap + 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    require(crossEdges.length + selfEdges.length <= edgeCap,
      s"appendToClusterIndex($path): verified candidate edges exceed " +
        s"spark.graft.dedup.appendEdgeCap=$edgeCap (cross=${crossEdges.length} " +
        s"self=${selfEdges.length}, counts capped at edgeCap+1) — the " +
        "driver union-find is batch-bounded by contract; raise the knob " +
        "or split the batch")

    // driver union-find over batch ids + touched labels (batch-bounded
    // by the incremental contract)
    val uf = new MinLabelUnionFind
    (crossEdges ++ selfEdges).foreach { case (a, b) => uf.union(a, b) }
    // old label -> merged label (only where changed); batch id -> label
    val touchedLabels = crossEdges.map(_._2).distinct
    val labelRemap = touchedLabels.map(l => l -> uf.find(l)).filter(p => p._1 != p._2)
    val batchLabel = batchIds.map(b => b -> uf.find(b)).toMap
    val affected: Set[Long] =
      (labelRemap.map(_._2) ++ touchedLabels.map(uf.find) ++ batchLabel.values).toSet

    // the buckets this append touches: relabel SOURCES (old labels that
    // remap away — their rows leave the bucket), plus every label in
    // `affected` (merge targets and batch labels — their buckets gain
    // rows or recompute size/keep). Rows in any other bucket are never
    // read and never rewritten — the O(affected) claim, spec-pinned by
    // the untouched buckets' files carrying over unchanged.
    val affectedBuckets: Seq[Int] =
      (labelRemap.map(_._1) ++ affected.toSeq)
        .map(bucketOf(_, nBuckets)).distinct.sorted
    // new verdict rows for the affected buckets only: relabeled old
    // rows + scored batch rows; size/keep recompute over exactly the
    // affected clusters (co-resident unaffected clusters pass through
    // unchanged into the rewritten bucket)
    val remapDf = labelRemap.toSeq.toDF("canon_id", "__newLabel")
    val liveAff = verdicts
      .filter(col("vb").isInCollection(affectedBuckets)).drop("vb")
    val oldRows = liveAff.join(broadcast(remapDf), Seq("canon_id"), "left")
      .select(col(id), coalesce(col("__newLabel"), col("canon_id")).as("canon_id"),
        col("cluster_size"), col("score"), col("keep"))
    val tk = TextAnalysis.tokens(col(textCol))
    val labelDf = batchLabel.toSeq.toDF(id, "canon_id")
    val batchRows = batch.select(col(id),
        (size(array_distinct(tk)).cast("double") / size(tk).cast("double"))
          .as("score"))
      .join(broadcast(labelDf), Seq(id))
      .select(col(id), col("canon_id"), lit(0L).as("cluster_size"),
        col("score"), lit(false).as("keep"))
    val all = oldRows.unionByName(batchRows)
    val aff = all.filter(col("canon_id").isInCollection(affected))
    val wc = Window.partitionBy(col("canon_id"))
    val wk = Window.partitionBy(col("canon_id"))
      .orderBy(col("score").desc, col(id).asc)
    val affFixed = aff
      .withColumn("cluster_size", count(lit(1)).over(wc))
      .withColumn("keep", row_number().over(wk) === 1)
    val newVerdicts =
      all.filter(!col("canon_id").isInCollection(affected)).unionByName(affFixed)
        .select(col(id), col("canon_id"), col("cluster_size"), col("score"),
          col("keep"))
        .withColumn("vb", verdictBucket(col("canon_id"), nBuckets))
    commitVerdicts(snap, "clusterapp", appId, newVerdicts, affectedBuckets,
      artifacts.map { case (t, added) => t -> (snap.table(t) ++ added) })
  }

  /** Exact-Jaccard verification of candidate `(bid, oid)` pairs against
    * the lexicographic shingle arrays of `shingles` — ONE formula
    * shared by [[appendToClusterIndex]] and [[deleteFromClusterIndex]]
    * (a sorted-merge intersection count; a drifted copy would silently
    * break full-rebuild equivalence on one of the two maintenance
    * paths).
    *
    * Shuffle posture: `shingles` is CORPUS-sized while the candidate
    * set is batch/affected-bounded by contract, so the array frame is
    * pruned FIRST with a broadcast semi-join against the candidate
    * participant ids and the array joins carry broadcast hints — the
    * un-hinted form sort-merge-joined the full corpus of shingle
    * arrays per maintenance op (caught by the clusterIndexDelete
    * ScaleSmoke's 1x-vs-10x shuffle-byte pin).
    *
    * An id can hold MORE than one artifact row: a delete leaves the
    * deleted id's rows behind, so a later re-append of that id
    * (possibly with DIFFERENT text) adds a second set — verifying
    * against the stale arrays would silently break full-rebuild
    * equivalence. Each participant id therefore resolves to its
    * [[freshest]] row, the one its latest writer committed. */
  private def verifyAgainstShingles(shingles: DataFrame, cands: DataFrame,
      threshold: Double): DataFrame = {
    val c = cands.localCheckpoint(true) // two id pulls + the verify join
    val partIds = c.select(col("bid").as("__mid"))
      .union(c.select(col("oid").as("__mid"))).distinct()
    val ss = freshest(shingles.join(broadcast(partIds), Seq("__mid"), "left_semi"))
      .select(col("__mid"), col("ss"))
    c
      .join(broadcast(ss.select(col("__mid").as("bid"), col("ss").as("sh_a"))),
        "bid")
      .join(broadcast(ss.select(col("__mid").as("oid"), col("ss").as("sh_b"))),
        "oid")
      .withColumn("inter", sorted_intersect_count(col("sh_a"), col("sh_b")))
      .filter(col("inter").cast("double") /
        (size(col("sh_a")) + size(col("sh_b")) - col("inter")).cast("double")
        >= threshold)
      .select(col("bid"), col("oid"))
  }

  /** Each id's artifact rows from its highest `__app` cell — the arrays
    * of the last committed op that wrote the id. ONE freshness rule for
    * verification and compaction; [[clusterIndexArtifactReport]] ranks
    * with the same key. */
  private def freshest(artifacts: DataFrame): DataFrame =
    artifacts
      .withColumn("__best", max(col("__app")).over(Window.partitionBy(col("__mid"))))
      .filter(col("__app") === col("__best")).drop("__best")

  /** The verdict-rewrite tail shared by [[appendToClusterIndex]] and
    * [[deleteFromClusterIndex]]: write the affected buckets' new rows,
    * then commit them in place of those buckets' files — every other
    * bucket's files carried over — together with `tables` and `opId`.
    * A bucket the op empties writes no file: dropping its old files is
    * its new state. */
  private def commitVerdicts(snap: IndexLog.Snapshot, tag: String,
      opId: String, newVerdicts: DataFrame, affectedBuckets: Seq[Int],
      tables: Map[String, IndexLog.Table] = Map.empty): Unit = {
    val touched = affectedBuckets.map(_.toString).toSet
    val old = snap.table("verdicts")
    val written = IndexLog.write(newVerdicts.repartition(col("vb")), snap.root,
      "verdicts", Some("vb"))
    snap.commit(tag, tables + ("verdicts" ->
      (old.copy(files = old.files.filterNot(_.cell.exists(touched))) ++ written)),
      newOps = Set(opId))
  }

  /** Remove a document batch from a persisted cluster index — the
    * retirement half of the incremental lifecycle (build / append /
    * serve / DELETE), with the same FULL-REBUILD EQUIVALENCE contract
    * as [[appendToClusterIndex]]: the resulting `verdicts` are
    * row-identical to [[buildClusterIndex]] over corpus ∖ batch (llm75
    * pins it against DuckDB's from-scratch closure; the spec pins it
    * against a Spark full rebuild). The hard semantic is the SPLIT:
    * deleting a BRIDGE document must break its cluster into the
    * components that stay connected without it. Connectivity is
    * therefore recomputed — but ONLY among the affected clusters'
    * remaining members, which is exact because deleting a document
    * removes edges and never adds any, and no ≥-threshold edge can
    * cross two distinct clusters (they would have been one cluster).
    * Candidates come from the persisted prefix-filter inverted index
    * (frozen-df order; completeness needs consistency, not the
    * particular order), verify exactly against the persisted
    * lexicographic shingle arrays, and feed the same driver union-find
    * as append; new labels are min member ids (the build's labeling).
    * Per-doc scores ride the persisted verdict rows, so delete never
    * reads document text.
    *
    * 100 TB posture: per-delete work is O(batch + affected clusters) —
    * the corpus is never re-paired, corpus-wide reads are confined to
    * column-pruned id/label scans, and the verdict rewrite touches
    * only the buckets holding the affected clusters' old labels and
    * new (post-split) labels. The remaining-member and verified-edge
    * driver pulls are bounded LOUD (`spark.graft.dedup.deleteMemberCap`,
    * `spark.graft.dedup.appendEdgeCap`). Deleted documents' artifact
    * rows (`shingles`, `prefix`) stay listed — stale prefix rows only
    * ever ADD candidates (harmless: verification decides), and
    * [[verifyAgainstShingles]] resolves every participant id to its
    * freshest rows, so a later re-append of a deleted id (even with
    * different text) verifies against the re-appended arrays, never
    * the stale ones. [[compactClusterIndexArtifacts]] or the next
    * [[buildClusterIndex]] rebuild reclaims stale rows.
    *
    * Crash safety: the same single commit as append, with a
    * deterministic op id namespaced under `del:` so a delete can never
    * short-circuit on a committed APPEND of the same id set. A retry
    * no-ops only when the op id is recorded AND none of the ids are
    * live — the op id alone is stale after the same ids were
    * re-appended (the documented delete -> re-append -> delete-again
    * lifecycle — a repeated single-id takedown — re-executes). An id deleted here may
    * be re-appended later (the append-side "already indexed" check
    * consults live verdicts only). */
  def deleteFromClusterIndex(spark: SparkSession, path: String,
      delIds: DataFrame, id: String = "doc_id"): Unit = {
    import spark.implicits._
    if (delIds.isEmpty) return
    require(delIds.schema(id).dataType ==
        org.apache.spark.sql.types.LongType,
      s"deleteFromClusterIndex: $id must be LongType (the driver-side " +
        s"union-find is long-keyed), got ${delIds.schema(id).dataType}")
    val snap = IndexLog.snapshot(spark, path)
    val (threshold, _, nBuckets) = clusterParams(snap)
    val ids = delIds.select(col(id)).distinct()
      .collect().map(_.getLong(0)).sorted
    val opId = graft.TmpDirs.pathKey("del:" + ids.mkString(","))
    val verdicts = snap.frame("verdicts")
    val idsDf = ids.toSeq.toDF(id)
    // which of the ids are currently indexed? One column-pruned verdict
    // id STREAM against the broadcast batch ids (an ids⋉verdicts
    // anti-join would sort-merge the corpus ids); the missing set diffs
    // on the driver, batch-bounded
    val present = verdicts.select(col(id))
      .join(broadcast(idsDf), Seq(id), "left_semi")
      .collect().map(_.getLong(0)).toSet
    // idempotent-retry no-op requires the recorded op id AND deadness:
    // the op id alone is STALE after the same ids were re-appended (the
    // documented delete -> re-append -> delete-again lifecycle — a
    // repeated single-id takedown — would otherwise silently no-op on
    // the first delete's op id and leave the doc indexed). Recorded +
    // none-live = a retry of the committed delete; recorded + all-live
    // = a genuinely new delete after a re-append (proceed); recorded +
    // some-live = ambiguous partial state — fall through to the loud
    // not-indexed check below.
    if (snap.ops.contains(opId) && present.isEmpty)
      return // this exact delete committed and the ids are dead — retry no-op
    // deleting an id that is not indexed would silently diverge from
    // the rebuild contract (the caller thinks it removed something) —
    // fail loud
    require(present.size == ids.length,
      s"deleteFromClusterIndex($path): $id ${ids.find(!present(_))} is not indexed")
    // deleting EVERY indexed doc would leave an index with no verdicts;
    // clearing an index is a rebuild-over-the-new-corpus (or rm)
    // operation. Parquet footer count — no data pages read
    val total = verdicts.count()
    require(total > ids.length,
      s"deleteFromClusterIndex($path): deleting all $total indexed docs " +
        "would empty the index — rebuild over the new corpus instead")
    // affected clusters = the labels the deleted docs belong to
    val affectedOld = verdicts.join(broadcast(idsDf), Seq(id), "left_semi")
      .select(col("canon_id")).distinct().collect().map(_.getLong(0))
    val memberCap = spark.conf
      .get("spark.graft.dedup.deleteMemberCap", "4000000").toInt
    // the affected clusters' rows all live in their labels' vb cells —
    // the filter prunes the read to O(affected buckets)
    val remaining = verdicts
      .filter(col("vb").isInCollection(
        affectedOld.map(bucketOf(_, nBuckets)).distinct.toSeq))
      .filter(col("canon_id").isInCollection(affectedOld))
      .join(broadcast(idsDf), Seq(id), "left_anti")
      .select(col(id)).limit(memberCap + 1).collect().map(_.getLong(0))
    require(remaining.length <= memberCap,
      s"deleteFromClusterIndex($path): affected clusters hold more than " +
        s"spark.graft.dedup.deleteMemberCap=$memberCap remaining members " +
        "(count capped at cap+1) — the driver relabel is affected-bounded " +
        "by contract; raise the knob or rebuild")
    // candidate pairs among the remaining members, from the persisted
    // prefix inverted index (zero false negatives under the frozen
    // consistent order)
    val remDf = remaining.toSeq.toDF("__mid")
    val remPrefix = snap.frame("prefix")
      .join(broadcast(remDf), Seq("__mid"), "left_semi")
      .localCheckpoint(true) // self-joined below
    val cands = remPrefix.select(col("__mid").as("bid"), col("shingle"))
      .join(remPrefix.select(col("__mid").as("oid"), col("shingle")), "shingle")
      .filter(col("bid") < col("oid"))
      .select(col("bid"), col("oid")).distinct()
    val edgeCap = spark.conf
      .get("spark.graft.dedup.appendEdgeCap", "4000000").toInt
    val edges = verifyAgainstShingles(snap.frame("shingles"), cands, threshold)
      .limit(edgeCap + 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    require(edges.length <= edgeCap,
      s"deleteFromClusterIndex($path): verified candidate edges exceed " +
        s"spark.graft.dedup.appendEdgeCap=$edgeCap (count capped at " +
        "edgeCap+1) — raise the knob or rebuild")
    // union-find over the remaining members; new label = min reachable
    // id, self for singletons (the build's labeling)
    val uf = new MinLabelUnionFind
    edges.foreach { case (a, b) => uf.union(a, b) }
    val newLabelOf = remaining.map(m => m -> uf.find(m))
    val newLabels: Set[Long] = newLabelOf.map(_._2).toSet
    // buckets to rewrite: where the affected clusters' rows LIVE (old
    // labels — deleted rows drop, remaining rows relabel away) plus
    // where the post-split components LAND (new labels). All other
    // buckets are never read and never rewritten.
    val affectedBuckets: Seq[Int] =
      (affectedOld.toSeq ++ newLabels.toSeq)
        .map(bucketOf(_, nBuckets)).distinct.sorted
    val remap = newLabelOf.toSeq.toDF(id, "__newLabel")
    val all = verdicts
      .filter(col("vb").isInCollection(affectedBuckets)).drop("vb")
      .join(broadcast(idsDf), Seq(id), "left_anti") // deleted rows drop
      .join(broadcast(remap), Seq(id), "left")
      .select(col(id),
        coalesce(col("__newLabel"), col("canon_id")).as("canon_id"),
        col("cluster_size"), col("score"), col("keep"))
    // size/keep recompute over exactly the post-split components;
    // co-resident unaffected clusters pass through unchanged (a new
    // label can never collide with a pass-through label — labels are
    // member doc ids and every doc belongs to exactly one cluster)
    val aff = all.filter(col("canon_id").isInCollection(newLabels.toSeq))
    val wc = Window.partitionBy(col("canon_id"))
    val wk = Window.partitionBy(col("canon_id"))
      .orderBy(col("score").desc, col(id).asc)
    val affFixed = aff
      .withColumn("cluster_size", count(lit(1)).over(wc))
      .withColumn("keep", row_number().over(wk) === 1)
    val newVerdicts =
      all.filter(!col("canon_id").isInCollection(newLabels.toSeq))
        .unionByName(affFixed)
        .select(col(id), col("canon_id"), col("cluster_size"), col("score"),
          col("keep"))
        .withColumn("vb", verdictBucket(col("canon_id"), nBuckets))
    commitVerdicts(snap, "clusterdel", opId, newVerdicts, affectedBuckets)
  }

  /** Reclaim what no commit lists ([[IndexLog.gc]]): the files of ops
    * that crashed before their commit and were never retried (a retry
    * writes fresh directories), and the files a commit dropped but did
    * not delete because it crashed right after committing. Correctness
    * never depended on this sweep (every reader and op reads only
    * listed files); it bounds the disk crashed ops leave behind without
    * a rebuild. Single-writer by contract: an op in flight has not
    * listed its files yet. */
  def gcClusterIndex(spark: SparkSession, path: String): Unit =
    IndexLog.gc(spark, path)

  /** COMPACT the cluster index's artifact store: rewrite `shingles` and
    * `prefix` keeping exactly ONE row set per LIVE doc — the
    * [[freshest]] set verification resolves to — and dropping
    * everything else: dead rows (deleted docs) and shadowed rows (an
    * id's stale sets superseded by a re-append). The bounded-growth
    * escape for takedown/reingest churn without a full
    * [[buildClusterIndex]] rebuild — which re-pays the transitive
    * closure. Compaction is one corpus-linear pass per artifact table
    * (a resolve-and-copy, no re-pairing, no closure), the exact
    * analogue of [[Similarity.compactIvfIndex]].
    *
    * ONE commit replaces both tables' files (every surviving row in the
    * compaction's own `__app` cell — one row set per id leaves nothing
    * to rank, and any later re-append, necessarily after a delete, lands
    * in a higher cell), so readers see the old store or the new one; a
    * crash before the commit leaves the old store, and the retry redoes
    * the compaction. Recorded op ids carry over, so retry idempotence
    * continues across a compaction. Once committed, the files of
    * crashed ops are reclaimed as by [[gcClusterIndex]]. */
  def compactClusterIndexArtifacts(spark: SparkSession, path: String,
      id: String = "doc_id"): Unit = {
    val snap = IndexLog.snapshot(spark, path)
    val live = snap.frame("verdicts").select(col(id).as("__mid"))
    // the freshest rows of live ids: one corpus co-shuffle on __mid per
    // table — the intrinsic compaction cost
    snap.commit("clustercompact", Seq("shingles", "prefix").map { t =>
      t -> IndexLog.write(freshest(snap.frame(t))
        .join(live, Seq("__mid"), "left_semi") // dead rows drop
        .withColumn("__app", lit(snap.version + 1)), path, t, Some("__app"))
    }.toMap)
    gcClusterIndex(spark, path)
  }

  /** Artifact HYGIENE report for a persisted cluster index — the
    * observability [[compactClusterIndexArtifacts]] is scheduled from:
    * every `shingles` and `prefix` row classified as
    *
    *   - `live_current`: the row set verification resolves to (exactly
    *     one per live doc per table when the store is clean);
    *   - `shadowed`: a row superseded by a fresher set for the same id
    *     (delete -> re-append churn);
    *   - `dead`: a row whose id has no live verdict (takedown
    *     leftovers);
    *   - `orphan`: rows in files the head does not list (ops that
    *     crashed before their commit and were never retried, files a
    *     crashed commit dropped but did not delete —
    *     [[gcClusterIndex]]'s target).
    *
    * Output is one row per (dir, kind), all eight always present (zeros
    * included) so the report schema is fixed. Reads are column-pruned
    * to (`__mid`, `__app`) — the shingle/prefix ARRAYS are never read —
    * so the report costs two slim corpus scans plus a co-shuffle on
    * id, and a footer count of any unlisted files. */
  def clusterIndexArtifactReport(spark: SparkSession, path: String,
      id: String = "doc_id"): DataFrame = {
    import spark.implicits._
    val snap = IndexLog.snapshot(spark, path)
    val live = snap.frame("verdicts")
      .select(col(id).as("__mid"), lit(1).as("__live"))
    val perDir = Seq("shingles", "prefix").map { d =>
      snap.frame(d).select(col("__mid"), col("__app"))
        .join(live, Seq("__mid"), "left")
        // the [[freshest]] key: an id's highest cell
        .withColumn("__best", max(col("__app")).over(Window.partitionBy(col("__mid"))))
        .withColumn("kind",
          when(col("__live").isNull, "dead")
            .when(col("__app") === col("__best"), "live_current")
            .otherwise("shadowed"))
        .groupBy(col("kind")).agg(count(lit(1)).as("n_rows"))
        .withColumn("dir", lit(d))
    }.reduce(_ unionByName _)
    val orphans = Seq("shingles", "prefix").map { d =>
      val paths = snap.unlisted(d)
      val schema = org.apache.spark.sql.types.DataType.fromJson(snap.table(d).schema)
        .asInstanceOf[org.apache.spark.sql.types.StructType]
      (d, "orphan",
        if (paths.isEmpty) 0L
        else spark.read.schema(schema).option("recursiveFileLookup", "true")
          .parquet(paths: _*).count())
    }.toDF("dir", "kind", "n_rows")
    val kinds = Seq("shingles", "prefix").flatMap(d =>
      Seq("live_current", "shadowed", "dead", "orphan").map(k => (d, k)))
      .toDF("dir", "kind")
    kinds.join(perDir.unionByName(orphans), Seq("dir", "kind"), "left")
      .select(col("dir"), col("kind"),
        coalesce(col("n_rows"), lit(0L)).as("n_rows"))
  }

  /** Deterministic op id of a batch: a 128-bit digest of the sorted id
    * set, so a RETRY of the same batch finds its id in the commit. */
  private def appendIdOf(batchIds: Array[Long]): String =
    graft.TmpDirs.pathKey(batchIds.sorted.mkString(","))

  /** Driver-side union-find with MIN-ID roots — link-by-min is the
    * SEMANTICS here (cluster labels are minimum reachable doc ids), not
    * a rank heuristic — and an ITERATIVE two-pass find: the recursive
    * form built an O(n)-deep parent chain on descending-ordered chain
    * edges and overflowed the JVM stack well below the 4M
    * appendEdgeCap. One definition shared by the append and delete
    * maintenance paths (the two copies had already drifted once). */
  private[graft] final class MinLabelUnionFind {
    private val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x // second pass: full path compression, iteratively
      while (c != r) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    def union(a: Long, b: Long): Unit = {
      val ra = find(a); val rb = find(b)
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
  }

  /** Transition report between two cluster-index states — the
    * observability a MAINTAINED dedup index needs: after a crawl-batch
    * append or a takedown delete, what actually happened to the
    * clusters? Classifies every OLD cluster (removed / split / intact)
    * and every NEW cluster (newborn / merged / enlarged / carried),
    * plus doc-level added/removed/carried counts — the numbers an
    * index operator alerts on (a takedown that SPLIT thousands of
    * clusters, an append whose merge rate spiked).
    *
    * Inputs are two verdict frames (`id`, `canon_id`, …); only those
    * two columns are read. Scale posture: one full-outer co-shuffle of
    * (id, label) pairs — 16 bytes/doc — plus label-keyed aggregations;
    * a report op run per maintenance window, not per query. Output is
    * one row per kind (all ten kinds always present, zeros included)
    * so the report schema is fixed. */
  def clusterIndexTransitions(oldV: DataFrame, newV: DataFrame,
      id: String = "doc_id"): DataFrame = {
    val spark = oldV.sparkSession
    import spark.implicits._
    val o = oldV.select(col(id), col("canon_id").as("__lo"))
    val n = newV.select(col(id), col("canon_id").as("__ln"))
    val j = o.join(n, Seq(id), "full_outer")
      .select(col(id), col("__lo"), col("__ln"))
      .localCheckpoint(true) // three aggregation consumers below
    val oldKinds = j.filter(col("__lo").isNotNull)
      .groupBy(col("__lo"))
      .agg(count(col("__ln")).as("s"),
        countDistinct(col("__ln")).as("nl"))
      .select(
        when(col("s") === 0, lit("old_removed"))
          .when(col("nl") >= 2, lit("old_split"))
          .otherwise(lit("old_intact")).as("kind"))
    val newKinds = j.filter(col("__ln").isNotNull)
      .groupBy(col("__ln"))
      .agg(countDistinct(col("__lo")).as("n_old"),
        count(when(col("__lo").isNull, lit(1))).as("n_new"))
      .select(
        when(col("n_old") === 0, lit("new_newborn"))
          .when(col("n_old") >= 2, lit("new_merged"))
          .when(col("n_new") >= 1, lit("new_enlarged"))
          .otherwise(lit("new_carried")).as("kind"))
    val docKinds = j.select(
      when(col("__ln").isNull, lit("docs_removed"))
        .when(col("__lo").isNull, lit("docs_added"))
        .otherwise(lit("docs_carried")).as("kind"))
    val allKinds = Seq("old_removed", "old_split", "old_intact",
      "new_newborn", "new_merged", "new_enlarged", "new_carried",
      "docs_removed", "docs_added", "docs_carried").toDF("kind")
    oldKinds.unionByName(newKinds).unionByName(docKinds)
      .groupBy(col("kind")).agg(count(lit(1)).as("n"))
      .join(allKinds, Seq("kind"), "right")
      .select(col("kind"), coalesce(col("n"), lit(0L)).as("n"))
  }

  /** MinHash CALIBRATION audit — the tuning report an LSH dedup rollout
    * is parameterized from: over exactly-verified candidate pairs
    * (prefix filter, j >= threshold), compare the k-slot portable
    * minhash ESTIMATE (match fraction) against exact Jaccard, binned by
    * floor(j*10): pairs per bin, mean estimate, and the count of pairs
    * whose estimate misses by > maxErr. E[est] = j per slot, so a
    * calibrated family shows avg_est tracking the bin — drift flags a
    * broken hash family or too-small k before a production run trusts
    * its bands. Slot hashes are (a_i*h + b_i) mod 2^31-1 over
    * [[graft.functions.ExprHelpers.modPolyHash]] shingle hashes — every
    * product fits 63 bits, so DuckDB replays the estimate bit-for-bit
    * (the xxhash64 production signature in [[minhashCandidates]] is
    * spec-pinned instead). All report fields derive from integer counts
    * (the one division is integers-to-double), so cross-engine FP drift
    * cannot enter. Two corpus passes (pair verify + slot build), both
    * sub-quadratic; the report itself is ≤ 11 rows. */
  def minhashCalibration(df: DataFrame, textCol: String, id: String,
      threshold: Double = 0.6, maxErr: Double = 0.15,
      shingleN: Int = 3): DataFrame = {
    val P = 2147483647L
    val A = Seq(1L, 3L, 5L, 7L, 11L, 13L, 17L, 19L)
    val B = Seq(0L, 101L, 203L, 307L, 401L, 503L, 601L, 701L)
    val k = A.length
    val pairs = jaccardSelfJoinExact(df, textCol, id, threshold, shingleN)
    val slots = df
      .select(col(id), TextAnalysis.tokens(col(textCol)).as("__tk"))
      .select(col(id), array_distinct(
        TextAnalysis.shinglesFromTokens(col("__tk"), shingleN)).as("__sh"))
      .select(col(id), transform(col("__sh"), s => mod_poly_hash(s)).as("__hs"))
      .select(col(id), array(A.indices.map(i =>
        aggregate(col("__hs"), lit(P),
          (acc, h) => least(acc, (h * A(i) + B(i)) % P))): _*).as("slots"))
    pairs
      .join(slots.select(col(id).as("id_a"), col("slots").as("sa")), "id_a")
      .join(slots.select(col(id).as("id_b"), col("slots").as("sb")), "id_b")
      .withColumn("matches",
        size(filter(zip_with(col("sa"), col("sb"), (x, y) => x === y),
          b => b)))
      .groupBy(floor(col("jaccard") * 10).cast("int").as("j_bin"))
      .agg(count(lit(1)).as("n_pairs"),
        (sum(col("matches")).cast("double") /
          (count(lit(1)) * k).cast("double")).as("avg_est"),
        sum(when(abs(col("matches").cast("double") / k - col("jaccard"))
          > maxErr, 1L).otherwise(0L)).as("n_large_err"))
  }

  /** Embedding-cosine near-dup via SRP-LSH buckets (see Similarity):
    * within-bucket pairs with cosine >= threshold. */
  def embeddingNearDup(df: DataFrame, embCol: String, id: String,
      threshold: Double, nPlanes: Int = 12): DataFrame = {
    val bucketed = Similarity.srpBucket(df, embCol, nPlanes)
    val l = bucketed.select(col(id).as("id_a"), col(embCol).as("e_a"), col("bucket"))
    val r = bucketed.select(col(id).as("id_b"), col(embCol).as("e_b"), col("bucket").as("b2"))
    l.join(r, col("bucket") === col("b2") && col("id_a") < col("id_b"))
      .withColumn("cos", cosine_sim(col("e_a"), col("e_b")))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), col("cos"))
  }

  /** All w-token spans of a document, one row per (start, span) with the
    * 0-based token start position. Docs shorter than w emit nothing (no
    * w-token span exists; the pre-filter also means shinglesFromTokens'
    * short-doc whole-text case never fires, so this IS the plain
    * sliding window). The token array materializes once per row before
    * the lambda (same lesson as the bigram top-k: re-splitting inside
    * the transform would re-run the split per span). */
  private[graft] def spanOccurrences(df: DataFrame, textCol: String, id: String,
      w: Int): DataFrame =
    df.select(col(id).as("__id"), TextAnalysis.tokens(col(textCol)).as("__tk"))
      .filter(size(col("__tk")) >= w)
      .select(col("__id"), size(col("__tk")).cast("bigint").as("__n_tokens"),
        posexplode(TextAnalysis.shinglesFromTokens(col("__tk"), w)))
      .withColumnRenamed("pos", "st").withColumnRenamed("col", "span")

  /** [[spanOccurrences]] re-keyed by the 128-bit span hash — the 100 TB
    * shuffle form. Two xxhash64 passes with different effective seeds
    * (the second prepends a literal, which chains into a distinct seed),
    * so a pair collision needs BOTH 64-bit hashes to collide
    * (~n²/2^129 odds across n distinct spans). The span STRING is
    * dropped in the same narrow projection that computes the hashes —
    * nothing wide ever ships it, so a downstream group/join moves 16
    * bytes per span instead of ~w words of text. */
  private[graft] def spanOccurrencesHashed(df: DataFrame, textCol: String,
      id: String, w: Int): DataFrame =
    spanOccurrences(df, textCol, id, w)
      .select(col("__id"), col("__n_tokens"), col("st"),
        xxhash64(col("span")).as("__h1"),
        xxhash64(lit(1L), col("span")).as("__h2"))

  /** Cross-document duplicated span discovery — the span-level exact
    * dedup primitive (the "repeated 50-token passage" phenomenon of web
    * corpora: boilerplate, licenses, templated text recur verbatim
    * ACROSS otherwise-distinct documents, so document-level dedup never
    * sees them). Emits every w-token span occurring in >= minDocs
    * distinct documents with its document/occurrence counts.
    *
    * Plan shape: one projection explodes ~|tokens| spans per doc, one
    * shuffle groups them — the same single-aggregation shape as a word
    * count. By default grouping is by the span STRING (exact, and what
    * the DuckDB oracle replays) and the output carries a `span` column;
    * `hashSpans = true` groups by the 128-bit span hash instead
    * ([[spanOccurrencesHashed]]) so the shuffle ships 16 bytes per span
    * — the 100 TB form — and the output carries `(span_h1, span_h2)`
    * in place of `span` (the string is never shuffled, so it cannot be
    * emitted). Counts are identical between the forms unless two
    * distinct spans collide on both hashes (~n²/2^129); the equality is
    * spec-pinned on the llm48/llm49 fixtures. The suffix-array
    * formulation finds variable-length duplicates but needs a global
    * sort; fixed-w shingles are the shuffle-friendly form and w is the
    * minimum duplication length worth acting on. */
  def duplicatedSpans(df: DataFrame, textCol: String, id: String,
      w: Int = 8, minDocs: Int = 2, hashSpans: Boolean = false): DataFrame = {
    require(w >= 2, s"span width must be >= 2 tokens, got $w")
    if (hashSpans)
      spanOccurrencesHashed(df, textCol, id, w)
        .groupBy(col("__h1"), col("__h2"))
        .agg(countDistinct(col("__id")).as("n_docs"),
          count(lit(1)).as("n_occ"),
          min(col("__id")).as("first_doc"))
        .filter(col("n_docs") >= minDocs)
        .select(col("__h1").as("span_h1"), col("__h2").as("span_h2"),
          col("n_docs"), col("n_occ"), col("first_doc"))
    else
      spanOccurrences(df, textCol, id, w)
        .groupBy(col("span"))
        .agg(countDistinct(col("__id")).as("n_docs"),
          count(lit(1)).as("n_occ"),
          min(col("__id")).as("first_doc"))
        .filter(col("n_docs") >= minDocs)
  }

  /** Per-document coverage by cross-document duplicated spans: the
    * fraction of a doc's tokens lying inside some w-token span that also
    * occurs in another document — the score a span-level dedup pipeline
    * thresholds on (drop or trim docs that are mostly recycled text).
    *
    * Overlapping/adjacent duplicated spans merge before counting
    * (gaps-and-islands over start positions), so a token inside three
    * overlapping duplicated spans counts once. The merge window
    * partitions BY DOCUMENT (rows per partition ~ doc token count) —
    * no global window anywhere. */
  def spanDupCoverage(df: DataFrame, textCol: String, id: String,
      w: Int = 8, minDocs: Int = 2, hashSpans: Boolean = false): DataFrame = {
    require(w >= 2, s"span width must be >= 2 tokens, got $w")
    // checkpoint/hash-key rationale lives on mergedDupIslands; the
    // output schema is identical in both key modes, so the string/hash
    // equality is a full-frame compare in the spec
    val islands = mergedDupIslands(df, textCol, id, w, minDocs, hashSpans)
      .groupBy(col("__id"))
      .agg(sum(col("en") - col("st")).cast("bigint").as("dup_tokens"))
    df.select(col(id),
        size(TextAnalysis.tokens(col(textCol))).cast("bigint").as("n_tokens"))
      .join(islands.withColumnRenamed("__id", id), Seq(id), "left")
      .select(col(id), col("n_tokens"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        (coalesce(col("dup_tokens"), lit(0L)).cast("double") /
          col("n_tokens").cast("double")).as("dup_ratio"))
  }

  /** MERGED per-doc intervals of cross-document duplicated w-spans —
    * the shared front half of [[spanDupCoverage]] (sums interval
    * lengths) and [[cutDuplicatedSpans]] (removes the covered tokens).
    * Returns `(__id, st, en)`, one row per maximal island of
    * overlapping/adjacent duplicated-span occurrences (gaps-and-islands
    * over start positions; the window partitions BY DOCUMENT — no
    * global window anywhere).
    *
    * Deliberately NOT checkpointed despite the span frame's two
    * consumers (dup agg + hits join): the explode is cheap narrow
    * codegen over compact doc rows, while materializing ~|tokens| span
    * STRINGS per doc is ~20x the input bytes — measured at the 1M-doc
    * smoke, re-running the projection beats storing it (37 s vs 46 s).
    * `hashSpans` switches both the dup aggregation AND the semi-join to
    * the 128-bit span hash (16 shuffled bytes per span vs ~w words —
    * the 100 TB form; see [[spanOccurrencesHashed]]). */
  private def mergedDupIslands(df: DataFrame, textCol: String, id: String,
      w: Int, minDocs: Int, hashSpans: Boolean): DataFrame = {
    val occ = if (hashSpans) spanOccurrencesHashed(df, textCol, id, w)
      else spanOccurrences(df, textCol, id, w)
    val key = if (hashSpans) Seq("__h1", "__h2") else Seq("span")
    val dup = occ.groupBy(key.map(col): _*)
      .agg(countDistinct(col("__id")).as("__nd"))
      .filter(col("__nd") >= minDocs).select(key.map(col): _*)
    // interval [st, en) per duplicated-span occurrence; islands = maximal
    // runs where each interval starts at-or-before the running max end
    val hits = occ.join(dup, key, "left_semi")
      .select(col("__id"), col("st"), (col("st") + w).as("en"))
    val byDoc = Window.partitionBy(col("__id")).orderBy(col("st"), col("en"))
    hits
      .withColumn("__prev_max", max(col("en")).over(
        byDoc.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("__island", sum(
        when(col("__prev_max").isNull || col("st") > col("__prev_max"), 1)
          .otherwise(0)).over(byDoc))
      .groupBy(col("__id"), col("__island"))
      .agg(min(col("st")).as("st"), max(col("en")).as("en"))
      .select(col("__id"), col("st"), col("en"))
  }

  /** Exact-substring CUT — the act-on-it half of span-level dedup
    * ([[duplicatedSpans]] detects, [[spanDupCoverage]] scores, this
    * REMOVES): every token position covered by a cross-document
    * duplicated w-token span is cut from the document, and the kept
    * tokens are re-joined with single spaces (the operator is defined
    * over the token stream — original inter-token whitespace is not
    * preserved). This is the span-level alternative to dropping whole
    * documents: boilerplate, license blocks, and templated passages
    * recur verbatim across otherwise-distinct documents, and cutting
    * just the recycled spans keeps the unique remainder in the corpus.
    * ALL occurrences of a duplicated span are cut (deterministic and
    * order-free — no occurrence is privileged), the conservative
    * variant for training data.
    *
    * Returns `(id, clean_text, n_tokens, dup_tokens)`;
    * `n_tokens - dup_tokens` = the kept-token count, and `dup_tokens`
    * matches [[spanDupCoverage]]'s count exactly (same islands).
    *
    * Plan shape: the islands frame aggregates to one
    * interval-list + cut-count row per affected doc (intervals are
    * MERGED, so the list is small — bounded by tokens/w per doc), one
    * co-shuffle joins it to the corpus, and the cut itself is a narrow
    * per-row lambda (each token probes the doc's own merged, disjoint
    * interval list). `hashSpans = true` is the 100 TB form (16
    * shuffled bytes per span). */
  def cutDuplicatedSpans(df: DataFrame, textCol: String, id: String,
      w: Int = 8, minDocs: Int = 2, hashSpans: Boolean = false): DataFrame = {
    require(w >= 2, s"span width must be >= 2 tokens, got $w")
    val ivs = mergedDupIslands(df, textCol, id, w, minDocs, hashSpans)
      .groupBy(col("__id"))
      .agg(collect_list(struct(col("st"), col("en"))).as("__cut"),
        sum(col("en") - col("st")).cast("bigint").as("__ncut"))
      .withColumnRenamed("__id", id)
    df.join(ivs, Seq(id), "left")
      .withColumn("__tk", TextAnalysis.tokens(col(textCol)))
      .select(col(id),
        expr("concat_ws(' ', transform(filter(" +
          "transform(__tk, (t, i) -> struct(t AS t, i AS i)), " +
          "p -> __cut IS NULL OR NOT exists(__cut, " +
          "v -> p.i >= v.st AND p.i < v.en)), p -> p.t))").as("clean_text"),
        size(col("__tk")).cast("bigint").as("n_tokens"),
        coalesce(col("__ncut"), lit(0L)).as("dup_tokens"))
  }

  /** Semantic dedup (the SemDeDup recipe): quantize the corpus into
    * clusters, then prune cosine-near-duplicates WITHIN each cluster —
    * the cluster scope is what makes the quadratic verify tractable
    * (pairs ~ Σ|cluster|², not n²). A doc is a duplicate iff a
    * lower-id doc in its cluster has cosine >= threshold; keeping
    * min-id per ball makes the result order- and partitioning-stable.
    *
    * `seeds` is the coarse quantizer: any non-empty (seedId, seedEmb)
    * frame (an empty quantizer assigns nothing and yields an empty
    * result). Assignment = argmax cosine over the broadcast seeds (ties
    * break to the smaller seed id). A fixed deterministic seed rule (e.g. every
    * Nth doc) makes the whole operator ANSI-SQL-replayable — the llm50
    * oracle does exactly that; a production run at fixed cluster count
    * passes `Similarity.kmeansCentroids` output instead (same plan, the
    * FAISS-style trained quantizer, no longer SQL-replayable).
    *
    * Plan shape: broadcast-nested-loop assignment (narrow, corpus
    * scanned once), one shuffle to group clusters, map-side pair
    * explosion within clusters. Clusters larger than `maxCluster` fail
    * loud (an eager driver-side size check over the checkpointed
    * assignment) rather than silently exploding a task — size the
    * quantizer so cells stay small (the SemDeDup paper's k ~ √n).
    *
    * `probeAssign = true` switches assignment from the crossJoin +
    * max_by form (n×k intermediate rows, partially aggregated back to
    * n) to one narrow per-row argmax expression over the collected
    * quantizer — same values, same ties (spec-pinned), a fraction of
    * the cost at large k. Since r16 the probe form IS the default on
    * every semDedup entry point (and `maxCluster` tightened 100000 →
    * 20000): probe-vs-join equivalence is spec-pinned, so the llm50
    * oracle still replays in ANSI SQL against the probe plan; callers
    * that relied on the old looser bound now fail loud at the
    * maxCluster require and must size the quantizer (k ~ √n) or raise
    * the bound deliberately. `probeAssign = false` keeps the join form
    * available for plan-shape comparison. */
  /** (id, cluster_id, __emb): the corpus × quantizer argmax-cosine
    * assignment shared by [[semDedup]], [[semDedupIncremental]] and the
    * persisted-index pair — ONE definition, because the equivalence
    * contracts between those ops hold only if every caller assigns
    * cells with byte-identical cosines and tie-breaks. */
  private def assignCells(df: DataFrame, embCol: String, id: String,
      seeds: DataFrame, seedId: String, seedEmb: String,
      probeAssign: Boolean): DataFrame = {
    if (probeAssign) {
      // large-k assignment (the FAISS shape the SemDeDup paper's k ~ √n
      // needs): the quantizer — broadcast-small by contract — collects
      // to the driver and rides into ONE narrow per-row argmax
      // expression, so assignment is a single corpus scan with no n×k
      // intermediate rows and no partial-agg pass. Cosines and
      // tie-breaks are byte-identical to the join form (spec-pinned).
      // Input contracts fail loud HERE (a silent cast("long") of a
      // string id used to surface as an opaque NPE deep in collect):
      val seedIdType = seeds.schema(seedId).dataType
      require(Seq[org.apache.spark.sql.types.DataType](
          org.apache.spark.sql.types.ByteType, org.apache.spark.sql.types.ShortType,
          org.apache.spark.sql.types.IntegerType, org.apache.spark.sql.types.LongType)
          .contains(seedIdType),
        s"semDedup(probeAssign=true): seed id column '$seedId' must be an " +
          s"integral type, got $seedIdType (the probe argmax carries ids as longs)")
      require(seeds.schema(seedEmb).dataType match {
          case org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.FloatType, _) => true
          case _ => false
        },
        s"semDedup(probeAssign=true): seed embedding column '$seedEmb' must be " +
          s"array<float>, got ${seeds.schema(seedEmb).dataType}")
      // the quantizer collect is CAPPED loud (k ~ √n is small by
      // contract, but an uncapped collect of a mis-sized seed frame
      // would OOM the driver silently — the named-knob discipline)
      val maxSeeds = df.sparkSession.conf
        .get("spark.graft.semdedup.maxSeeds", "1000000").toInt
      val rows = seeds
        .select(col(seedId).cast("long"), col(seedEmb))
        .limit(maxSeeds + 1).collect()
      require(rows.length <= maxSeeds,
        s"semDedup(probeAssign=true): quantizer exceeds " +
          s"spark.graft.semdedup.maxSeeds=$maxSeeds seeds (collected to " +
          "the driver and inlined as plan literals) — raise the knob or " +
          "use fewer cells (k ~ sqrt(n))")
      require(!rows.exists(r => r.isNullAt(0) || r.isNullAt(1)),
        s"semDedup(probeAssign=true): null seed id or embedding in the quantizer")
      if (rows.isEmpty) // an empty quantizer assigns nothing (join parity)
        df.select(col(id), lit(0L).cast(seedIdType).as("cluster_id"),
          col(embCol).as("__emb")).filter(lit(false))
      else
        df.select(col(id),
          // cast back to the seed column's native type: cluster_id has
          // the SAME type in both assignment modes (values originated
          // from that type, so the narrowing is exact)
          argmax_cosine_seed(col(embCol), rows.map(_.getLong(0)),
            rows.map(_.getSeq[Float](1).toArray)).cast(seedIdType).as("cluster_id"),
          col(embCol).as("__emb"))
    } else {
      val s = broadcast(seeds.select(col(seedId).as("__seed_id"),
        col(seedEmb).as("__s_emb")))
      df.select(col(id), col(embCol).as("__e"))
        .crossJoin(s)
        .withColumn("__c", cosine_sim(col("__e"), col("__s_emb")))
        .groupBy(col(id))
        .agg(max_by(col("__seed_id"),
            struct(col("__c"), (-col("__seed_id")).as("__neg"))).as("cluster_id"),
          first(col("__e")).as("__emb"))
    }
  }

  /** Loud size guard shared by the semantic-dedup pair stages: refuse
    * when any single cell exceeds `maxCluster` members (the largest
    * pair TASK — the skew bound) or when the total same-cell pair
    * count Σ n·(n−1)/2 exceeds `spark.graft.semdedup.maxPairs`
    * (default 2×10⁹ — the TOTAL all-pairs cosine work; many cells just
    * under maxCluster are as unaffordable as one over it, so a
    * per-cell bound alone under-guards). `counts` = one (cluster_id,
    * __n) row per cell; the guard is ONE small aggregate job with a
    * single row pulled back. BigDecimal arithmetic: a pathological
    * cell count squared overflows a long well before the require. */
  private def semDedupPairGuard(counts: DataFrame, maxCluster: Int,
      spark: SparkSession, op: String): Unit = {
    val maxPairs = spark.conf
      .get("spark.graft.semdedup.maxPairs", "2000000000").toLong
    val st = counts.agg(
      max_by(col("cluster_id"), col("__n")).as("__c"),
      max(col("__n")).as("__m"),
      // 2× the pair count, summed as decimal (n·(n−1) per cell)
      sum(col("__n").cast("decimal(38,0)") * (col("__n") - lit(1L))).as("__p2"))
      .head()
    if (st.isNullAt(1)) return // empty assignment: nothing to guard
    val biggest = st.getLong(1)
    if (biggest > maxCluster)
      throw new IllegalStateException(
        s"$op: cell ${st.get(0)} has $biggest members, exceeding " +
          s"maxCluster=$maxCluster — a degenerate quantizer cell would " +
          "explode a single pair task; re-train with more cells " +
          "(k ~ sqrt(n)) or raise maxCluster deliberately")
    val pairs2 = st.getDecimal(2)
    if (pairs2 != null && pairs2.compareTo(
        java.math.BigDecimal.valueOf(maxPairs).multiply(
          java.math.BigDecimal.valueOf(2L))) > 0)
      throw new IllegalStateException(
        s"$op: total same-cell pair count ${pairs2.divide(
          java.math.BigDecimal.valueOf(2L))} exceeds " +
          s"spark.graft.semdedup.maxPairs=$maxPairs — the all-pairs " +
          "cosine work is unaffordable at this cell-size distribution; " +
          "re-train with more cells or raise the knob with the cost named")
  }

  def semDedup(df: DataFrame, embCol: String, id: String,
      seeds: DataFrame, seedId: String, seedEmb: String,
      threshold: Double, maxCluster: Int = 20000,
      probeAssign: Boolean = true): DataFrame = {
    // materialized once (eager checkpoint): four consumers below (the
    // size guard, both pair-join sides, the final output) would each
    // re-run the full corpus x seeds assignment pass otherwise
    val asg = assignCells(df, embCol, id, seeds, seedId, seedEmb, probeAssign)
      .localCheckpoint(true)
    // the size guard runs eagerly, driver-side, over the checkpointed
    // assignment (ONE small count-by-cluster job): TWO bounds fail loud
    // HERE instead of exploding a pair task. maxCluster bounds the
    // single largest cell (the biggest pair TASK — skew), and the
    // PAIR-AWARE budget bounds Σ n·(n-1)/2 over all cells (the total
    // all-pairs cosine work — many cells just under maxCluster are as
    // unaffordable as one over it). Knob:
    // spark.graft.semdedup.maxPairs (default 2e9 — ~minutes of cosine
    // work across a cluster; raise deliberately, with the cost named).
    semDedupPairGuard(
      asg.groupBy(col("cluster_id")).agg(count(lit(1)).as("__n")),
      maxCluster, df.sparkSession, "semDedup")
    val a = asg.select(col(id).as("id_a"), col("cluster_id"), col("__emb").as("__ea"))
    val b = asg.select(col(id).as("id_b"), col("cluster_id").as("__cb"), col("__emb").as("__eb"))
    val dupIds = a.join(b, col("cluster_id") === col("__cb") && col("id_a") < col("id_b"))
      .filter(cosine_sim(col("__ea"), col("__eb")) >= threshold)
      .select(col("id_b").as(id)).distinct()
    asg.select(col(id), col("cluster_id"))
      .join(dupIds.withColumn("__d", lit(true)), Seq(id), "left")
      .select(col(id), col("cluster_id"),
        coalesce(col("__d"), lit(false)).as("is_dup"))
  }

  /** INCREMENTAL semantic dedup — the semantic family's analogue of
    * [[incrementalNearDup]]: flag each BATCH doc that is a cosine
    * near-duplicate (>= `threshold`) of a LOWER-ID doc in its quantizer
    * cell, where the comparison pool is the existing corpus plus the
    * batch itself, WITHOUT re-pairing the corpus. The contract is
    * restriction equivalence with the batch form:
    * `semDedup(corpus ∪ batch)` restricted to batch rows — which holds
    * exactly because a doc's flag depends only on lower-id same-cell
    * docs, and both ops assign cells through the shared
    * [[assignCells]] (byte-identical cosines and tie-breaks).
    *
    * Returns `(id, cluster_id, is_dup)` for the BATCH rows only.
    *
    * Scale posture: the corpus is assigned once per call (one narrow
    * pass — use [[buildSemDedupIndex]]/[[semDedupFromIndex]] to pay it
    * once and prune probes to touched cells); pair work is
    * batch-bounded per cell (batch rows × same-cell members), and cells
    * past `maxCluster` members fail loud before any pair task
    * explodes, as in [[semDedup]]. */
  def semDedupIncremental(corpus: DataFrame, batch: DataFrame,
      embCol: String, id: String, seeds: DataFrame, seedId: String,
      seedEmb: String, threshold: Double, maxCluster: Int = 20000,
      probeAssign: Boolean = true): DataFrame = {
    val basg = assignCells(batch, embCol, id, seeds, seedId, seedEmb,
      probeAssign).localCheckpoint(true) // guard + pair side + output
    // also checkpointed: two consumers in the probe (overlap check +
    // cell-pruned pool) would each re-run the corpus × seeds
    // assignment pass — the semDedup discipline
    val casg = assignCells(corpus, embCol, id, seeds, seedId, seedEmb,
      probeAssign).localCheckpoint(true)
    semDedupProbe(basg, casg, id, threshold, maxCluster)
  }

  /** Persist the semantic-dedup serving index: the quantizer as
    * `seeds` and the corpus assignment `(id, cell, emb)` as `members`,
    * PARTITIONED BY cell — so a later [[semDedupFromIndex]] probe reads
    * only the cells its batch touches (file-level pruning, the
    * IVF-corpus layout applied to dedup). Both land in ONE
    * [[IndexLog]] commit: a build over an existing index replaces the
    * pair atomically, and a crash before the commit leaves the previous
    * pair (or no index) for every reader. */
  def buildSemDedupIndex(corpus: DataFrame, path: String, embCol: String,
      id: String, seeds: DataFrame, seedId: String, seedEmb: String,
      probeAssign: Boolean = true): Unit = {
    val spark = corpus.sparkSession
    val base = IndexLog.head(spark, path)
    val seedsT = IndexLog.write(
      seeds.select(col(seedId).as("seed_id"), col(seedEmb).as("s_emb"))
        .repartition(1), path, "seeds")
    IndexLog.maybeCrash("semdedup-after-seeds")
    IndexLog.commit(spark, path, "semdedup", base, Map("seeds" -> seedsT,
      "members" -> writeMembers(
        assignCells(corpus, embCol, id, seeds, seedId, seedEmb, probeAssign)
          .select(col(id), col("cluster_id").as("cell"), col("__emb")), path)))
  }

  /** `(id, cell, __emb)` rows written as a fresh `members` write, one
    * file per cell. */
  private def writeMembers(rows: DataFrame, path: String): IndexLog.Table =
    IndexLog.write(rows.repartition(col("cell")), path, "members", Some("cell"))

  /** [[semDedupIncremental]] served from a [[buildSemDedupIndex]]
    * index: the corpus assignment is read back instead of recomputed,
    * and the members scan is PRUNED to the batch's touched cells (the
    * cell set is batch-bounded and collected driver-side, like the IVF
    * probe's). Identical results to the two-frame form — and therefore
    * to `semDedup(corpus ∪ batch)` restricted to the batch. Seeds and
    * members come from one snapshot of the index. */
  def semDedupFromIndex(spark: SparkSession, path: String,
      batch: DataFrame, embCol: String, id: String,
      threshold: Double, maxCluster: Int = 20000,
      probeAssign: Boolean = true): DataFrame = {
    val snap = IndexLog.snapshot(spark, path)
    val basg = assignCells(batch, embCol, id, snap.frame("seeds"), "seed_id", "s_emb",
      probeAssign).localCheckpoint(true) // cells pull + pair side + output
    semDedupProbe(basg, touchedMembers(snap, basg, id), id, threshold, maxCluster)
  }

  /** The members of `basg`'s cells as `(id, cluster_id, __emb)`: the
    * cell set is collected driver-side and prunes the scan by file. */
  private def touchedMembers(snap: IndexLog.Snapshot, basg: DataFrame,
      id: String): DataFrame = {
    val cells = basg.select(col("cluster_id")).distinct().collect().map(_.get(0))
    snap.frame("members").filter(col("cell").isInCollection(cells.toSeq))
      .select(col(id), col("cell").as("cluster_id"), col("__emb"))
  }

  /** The shared probe tail of [[semDedupIncremental]] and
    * [[semDedupFromIndex]]: flag each batch row with a lower-id
    * same-cell neighbor at cosine >= threshold among corpus members ∪
    * batch, guarding probed-cell sizes loud. */
  private def semDedupProbe(basg: DataFrame, casg: DataFrame, id: String,
      threshold: Double, maxCluster: Int): DataFrame = {
    // an id on both sides would make the restriction contract
    // ill-defined (semDedup over corpus ∪ batch assumes one row per
    // id) — fail loud, as the cluster-index maintenance ops do
    val overlap = casg.select(col(id))
      .join(broadcast(basg.select(col(id))), Seq(id), "left_semi")
      .limit(1).collect()
    require(overlap.isEmpty,
      s"semDedup probe: batch contains already-indexed $id " +
        s"${overlap.headOption.map(_.get(0))}")
    // pool = corpus members of the probed cells + the batch itself;
    // only the probed cells matter for the guard (and for membership)
    val pool = casg.join(
        broadcast(basg.select(col("cluster_id")).distinct()),
        Seq("cluster_id"), "left_semi")
      .unionByName(basg)
    // same two-bound guard as the batch form (per-cell skew bound +
    // total pair budget); pool pairs upper-bound the probe's actual
    // batch×pool work, so the budget refuses before any pair task runs
    semDedupPairGuard(
      pool.groupBy(col("cluster_id")).agg(count(lit(1)).as("__n")),
      maxCluster, basg.sparkSession, "semDedup probe")
    val b = basg.select(col(id).as("id_b"), col("cluster_id").as("__cb"),
      col("__emb").as("__eb"))
    val a = pool.select(col(id).as("id_a"), col("cluster_id"),
      col("__emb").as("__ea"))
    val dupIds = a.join(b, col("cluster_id") === col("__cb") &&
        col("id_a") < col("id_b"))
      .filter(cosine_sim(col("__ea"), col("__eb")) >= threshold)
      .select(col("id_b").as(id)).distinct()
    basg.select(col(id), col("cluster_id"))
      .join(dupIds.withColumn("__d", lit(true)), Seq(id), "left")
      .select(col(id), col("cluster_id"),
        coalesce(col("__d"), lit(false)).as("is_dup"))
  }

  /** [[semDedup]] with the TRAINED coarse quantizer: k-means centroids
    * from `Similarity.kmeansCentroids` (bounded sample, driver Lloyd —
    * the FAISS recipe, cost independent of corpus size) become the seed
    * frame. This is the production configuration — cluster count is a
    * free knob (the SemDeDup paper's k ~ √n) instead of a corpus
    * modulus — at the price of SQL replayability; correctness rides on
    * the operator's invariants (exact copies always share a cell) and
    * the spec suite. */
  def semDedupTrained(df: DataFrame, embCol: String, id: String,
      kClusters: Int, threshold: Double, maxCluster: Int = 20000,
      dim: Int = 64): DataFrame = {
    require(kClusters > 0, s"kClusters must be positive, got $kClusters" +
      " (an empty quantizer would silently drop every document)")
    val spark = df.sparkSession
    import spark.implicits._
    val seeds = Similarity.kmeansCentroids(df, embCol, kClusters, dim = dim)
      .zipWithIndex
      .map { case (c, i) => (i.toLong, c.map(_.toFloat).toSeq) }.toIndexedSeq
      .toDF("seed_id", "seed_emb")
    // the trained quantizer runs at the paper's k ~ √n — always use the
    // narrow probe assignment (the join form exists for the SQL oracle)
    semDedup(df, embCol, id, seeds, "seed_id", "seed_emb",
      threshold, maxCluster, probeAssign = true)
  }

  /** GROW a persisted semantic-dedup index ([[buildSemDedupIndex]])
    * with a new batch — the ingestion loop's maintenance op, completing
    * the semantic family's lifecycle the way [[appendToIvfIndex]] /
    * [[appendToClusterIndex]] complete theirs. The batch is
    * cell-assigned with one narrow pass against the persisted quantizer
    * (cells stay the build-time Voronoi partition — re-clustering the
    * lake per batch is off the table at 100 TB), its verdicts are
    * computed by the SAME id-ordered probe [[semDedupFromIndex]] serves
    * (lower-id same-cell neighbor at cosine >= threshold among touched
    * corpus members ∪ batch), and then ALL batch rows — flagged and
    * clean — join the members so the index after N appends is
    * row-identical to a from-scratch [[buildSemDedupIndex]] over
    * corpus ∪ batches under the same quantizer. Because the probe is
    * id-ordered on BOTH sides, verdicts keep the restriction contract
    * online: when arrivals are id-monotone across batches (the
    * append-only ingestion shape), every batch's verdicts equal
    * `semDedup(everything)` restricted to that batch, for ANY
    * micro-batch slicing (spec-pinned).
    *
    * Crash safety: the batch's cell files land in a fresh write that
    * ONE [[IndexLog]] commit adds to `members`, recording the batch's
    * deterministic op id (a digest of its id set). A crash before the
    * commit leaves nothing any reader or retry sees, so the retry simply
    * redoes the append. A retry of a COMMITTED append (op id recorded,
    * every id live) no-ops with byte-identical verdicts, recomputed
    * against members ∖ batch — exactly the pre-append touched-cell
    * members. The op id alone is stale across a later delete of the
    * same ids (the append → delete → re-append lifecycle reuses it), so
    * a recorded op id with NO live id appends again, and one with
    * PARTIAL liveness (a delete removed part of the committed batch)
    * refuses loud.
    *
    * 100 TB posture: one batch-sized assignment pass, one column-pruned
    * global id scan (the identity guard), a touched-cells-only members
    * read for the probe (file pruning), and a batch-sized partitioned
    * write — never a corpus rewrite or shuffle. */
  def appendToSemDedupIndex(spark: SparkSession, path: String,
      batch: DataFrame, embCol: String, id: String, threshold: Double,
      maxCluster: Int = 20000, probeAssign: Boolean = true): DataFrame = {
    val snap = IndexLog.snapshot(spark, path)
    require(batch.schema(id).dataType ==
        org.apache.spark.sql.types.LongType,
      s"appendToSemDedupIndex: $id must be LongType (op ids and the " +
        s"probe's id order are long-keyed), got ${batch.schema(id).dataType}")
    val basg = assignCells(batch, embCol, id, snap.frame("seeds"), "seed_id", "s_emb",
      probeAssign).localCheckpoint(true) // ids + cells + probe + write
    // batch ids collect is bounded LOUD (batches are micro-batch-sized
    // by contract; the named-knob discipline for every driver collect)
    val cap = spark.conf
      .get("spark.graft.semdedup.appendBatchCap", "4000000").toInt
    val idRows = basg.select(col(id)).limit(cap + 1).collect()
    require(idRows.length <= cap,
      s"appendToSemDedupIndex($path): batch exceeds " +
        s"spark.graft.semdedup.appendBatchCap=$cap rows — split the batch " +
        "or raise the knob")
    val batchIds = idRows.map(_.getLong(0))
    if (batchIds.isEmpty)
      return basg.select(col(id), col("cluster_id"),
        lit(false).as("is_dup"))
    // the dup check must run on the RAW batch: the assignment's
    // row_number silently collapses duplicate ids, so basg's id set is
    // dup-free even when the batch is not
    val batchDup = batch.groupBy(col(id)).count()
      .filter(col("count") > 1).limit(1).collect()
    require(batchDup.isEmpty,
      s"appendToSemDedupIndex($path): batch contains duplicate $id " +
        s"${batchDup.headOption.map(_.get(0))} — one identity would serve " +
        "two member rows; dedup the batch first")
    val appId = appendIdOf(batchIds)
    val casg = touchedMembers(snap, basg, id)
    // which batch ids are already members? One column-pruned corpus id
    // scan streaming against the broadcast batch ids (identity is
    // global — the same id could sit in a DIFFERENT cell if its
    // embedding changed, so the guard cannot prune to touched cells)
    val liveCnt = snap.frame("members").select(col(id))
      .join(broadcast(basg.select(col(id))), Seq(id), "left_semi").count()
    val committed = snap.ops.contains(appId)
    if (committed && liveCnt == batchIds.length)
      return semDedupProbe(basg, // committed replay: no write
        casg.join(broadcast(basg.select(col(id))), Seq(id), "left_anti"),
        id, threshold, maxCluster)
    require(!committed || liveCnt == 0,
      s"appendToSemDedupIndex($path): committed marker for this exact " +
        s"batch with PARTIAL liveness ($liveCnt of ${batchIds.length} " +
        "ids live) — a delete removed part of this committed batch; " +
        "delete the remaining ids first (deleteFromSemDedupIndex) or " +
        "rebuild, then append")
    require(liveCnt == 0,
      s"appendToSemDedupIndex($path): batch contains $liveCnt " +
        s"already-indexed $id(s) — appending would serve two member rows " +
        "for one identity; delete the ids first (deleteFromSemDedupIndex), " +
        "then append")
    // verdicts materialized before the batch lands: the returned frame
    // never re-reads members, whose files a later compaction may delete
    val verdicts = semDedupProbe(basg, casg, id, threshold, maxCluster)
      .localCheckpoint(true)
    val added = writeMembers(
      basg.select(col(id), col("cluster_id").as("cell"), col("__emb")), path)
    snap.commit("semapp", Map("members" -> (snap.table("members") ++ added)),
      newOps = Set(appId))
    verdicts
  }

  /** DELETE ids from a persisted semantic-dedup index — the
    * takedown/retention half of the lifecycle (opt-outs, license
    * revocations, PII purges), the semantic twin of
    * [[deleteFromClusterIndex]]. Unlike the IVF index there is no
    * tombstone list to consult on every probe: members are
    * cell-partitioned and deletes are cell-local, so the ids' cells are
    * REWRITTEN (anti-join, O(touched cells) — never a corpus rewrite)
    * and later probes/gates serve the remaining corpus with zero
    * read-path overhead. Verdict semantics after a delete are the
    * from-scratch ones over the remaining members, exactly what a
    * rebuild over corpus ∖ batch would serve (spec-pinned).
    *
    * Crash safety: the rewritten cells land in a fresh write, and ONE
    * commit swaps them for the touched cells' files and records the
    * op id; a crash before it leaves the last committed members.
    * Idempotence is liveness-gated like the cluster index: recorded op
    * + none live = committed retry (no-op); recorded op + all live = a
    * genuine re-delete after a re-append (proceed); partial liveness
    * fails loud. Deleting every member refuses loud (clearing an index
    * means deleting its directory). */
  def deleteFromSemDedupIndex(spark: SparkSession, path: String,
      ids: DataFrame, id: String): Unit = {
    val snap = IndexLog.snapshot(spark, path)
    require(ids.schema(id).dataType ==
        org.apache.spark.sql.types.LongType,
      s"deleteFromSemDedupIndex: $id must be LongType, got " +
        s"${ids.schema(id).dataType}")
    val cap = spark.conf
      .get("spark.graft.semdedup.appendBatchCap", "4000000").toInt
    val idRows = ids.select(col(id)).distinct().limit(cap + 1).collect()
    require(idRows.length <= cap,
      s"deleteFromSemDedupIndex($path): batch exceeds " +
        s"spark.graft.semdedup.appendBatchCap=$cap ids")
    val batchIds = idRows.map(_.getLong(0))
    if (batchIds.isEmpty) return
    // namespaced so a delete of the same id set records a DIFFERENT op
    // id than its append
    val opId = "del-" + appendIdOf(batchIds)
    val members = snap.frame("members")
    import spark.implicits._
    val idsDf = broadcast(batchIds.toSeq.toDF(id))
    // one column-pruned (id, cell) scan: liveness + touched cells
    val matched = members.select(col(id), col("cell"))
      .join(idsDf, Seq(id), "left_semi").collect()
    val committed = snap.ops.contains(opId)
    if (committed && matched.isEmpty) return // committed retry: no-op
    if (committed)
      require(matched.length == batchIds.length,
        s"deleteFromSemDedupIndex($path): committed marker with PARTIAL " +
          s"liveness (${matched.length}/${batchIds.length} live) — " +
          "ambiguous state; rebuild the index")
    else {
      val liveSet = matched.map(_.getLong(0)).toSet
      val missing = batchIds.filterNot(liveSet)
      require(missing.isEmpty,
        s"deleteFromSemDedupIndex($path): $id ${missing.headOption} is " +
          "not indexed — a silent skip would mask a takedown that never " +
          "happened; remove it from the batch")
    }
    val total = members.count()
    require(total > batchIds.length,
      s"deleteFromSemDedupIndex($path): deleting every member would " +
        "leave an empty index — delete the index directory instead")
    val cells = matched.map(_.get(1)).distinct.toSeq
    // a cell whose every row is deleted writes no file: dropping its
    // old files IS the delete
    val rewritten = writeMembers(members.filter(col("cell").isInCollection(cells))
      .join(idsDf, Seq(id), "left_anti")
      .select(col(id), col("__emb"), col("cell")), path)
    val touched = cells.map(_.toString).toSet
    val old = snap.table("members")
    snap.commit("semdel", Map("members" ->
      (old.copy(files = old.files.filterNot(_.cell.exists(touched))) ++ rewritten)),
      newOps = Set(opId))
  }

  /** Per-cell HYGIENE of a persisted semantic-dedup index — the number
    * compaction is scheduled from (the cluster index's artifact report
    * / the IVF drift report, for this index): every append lands one
    * file per touched cell, so probe read-amplification on a hot cell
    * grows with append lifetime; `advise_compact` flags cells whose
    * file count reaches `fileThreshold`. Cost: one footer-only members
    * scan for the counts (only the PARTITION column is read — zero data
    * bytes); the per-cell file counts come from the snapshot's file
    * list, O(files) on the driver with no listing. */
  def semDedupIndexReport(spark: SparkSession, path: String,
      fileThreshold: Int = 4): DataFrame = {
    val snap = IndexLog.snapshot(spark, path)
    import spark.implicits._
    val files = snap.table("members").files.groupBy(_.cell.get)
      .map { case (c, fs) => (c.toLong, fs.length) }.toSeq.toDF("cell", "n_files")
    val counts = snap.frame("members")
      .groupBy(col("cell").cast("long").as("cell"))
      .agg(count(lit(1)).as("n_members"))
    counts.join(broadcast(files), Seq("cell"))
      .select(col("cell"), col("n_members"), col("n_files").cast("long"),
        (col("n_files") >= fileThreshold).as("advise_compact"))
  }

  /** COMPACT a persisted semantic-dedup index: rewrite members to ONE
    * file per cell (the build-time layout), reclaiming the per-append
    * file growth [[semDedupIndexReport]] flags. Serving is unchanged by
    * construction — the rewrite is a row-identical repartition, no
    * filter — and one commit swaps the whole member set, so readers see
    * either layout and never a mix. Recorded op ids carry over:
    * committed-append replays keep no-opping through the all-live check
    * over the compacted rows. At 100 TB the rewrite is one
    * corpus-linear partitioned copy (cell-partitioned input → no
    * shuffle beyond the file split), run RARELY, gated by the report. */
  def compactSemDedupIndex(spark: SparkSession, path: String): Unit = {
    val snap = IndexLog.snapshot(spark, path)
    snap.commit("semcompact",
      Map("members" -> writeMembers(snap.frame("members"), path)))
  }

  /** REBUILD a drifted semantic-dedup index in place — the op that
    * completes the lifecycle build → append → delete → compact →
    * rebuild, the semDedup twin of `Similarity.rebuildIvfIndex`:
    * appends assign against the FROZEN build-time quantizer, so a
    * shifted arrival distribution piles batches into few cells (the
    * maxCluster guard eventually refuses probes of the hot cell);
    * rebuilding re-trains k-means seeds from the LIVE members and
    * re-assigns every member, restoring the balanced partition (and,
    * since the rewrite is one-file-per-cell, doubling as a compaction).
    *
    * No data-loss window and no mixed generation: both replacements are
    * written beside the live pair and ONE commit swaps seeds and
    * members together, so every reader sees the old pair or the new
    * one. Recorded op ids stay: replays of committed appends keep
    * no-opping through the all-live check over the re-assigned rows.
    * kClusters defaults to the current quantizer's size; seed ids
    * renumber 0..k-1 (verdicts are assignment-relative). */
  def rebuildSemDedupIndex(spark: SparkSession, path: String,
      kClusters: Int = 0, probeAssign: Boolean = true): Unit = {
    val snap = IndexLog.snapshot(spark, path)
    import spark.implicits._
    val members = snap.frame("members")
    val id = members.columns
      .filterNot(c => c == "__emb" || c == "cell") match {
      case Array(one) => one
      case other => throw new IllegalStateException(
        s"rebuildSemDedupIndex($path): cannot identify the id column " +
          s"among ${other.mkString(",")}")
    }
    val live = members.select(col(id), col("__emb"))
    val k =
      if (kClusters > 0) kClusters
      else snap.frame("seeds").count().toInt
    require(k > 0, s"rebuildSemDedupIndex($path): empty quantizer")
    val dim = live.select(size(col("__emb"))).head().getInt(0)
    val seeds = Similarity
      .kmeansCentroids(live, "__emb", k, dim = dim)
      .zipWithIndex
      .map { case (c, i) => (i.toLong, c.map(_.toFloat).toSeq) }
      .toIndexedSeq.toDF("seed_id", "s_emb")
    snap.commit("semrebuild", Map(
      "seeds" -> IndexLog.write(seeds.repartition(1), path, "seeds"),
      "members" -> writeMembers(
        assignCells(live, "__emb", id, seeds, "seed_id", "s_emb", probeAssign)
          .select(col(id), col("cluster_id").as("cell"), col("__emb")), path)))
  }
}
