package graft.ops

import graft.functions.VectorFunctions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (`Array[Float]`), per the builder mandate: brute-force cosine top-k as
  * the baseline, SRP-LSH bucketing as the scale path.
  *
  * 100 TB posture: the query set is broadcast (never shuffle the corpus
  * by query), similarity runs through the codegen'd CosineSimilarity
  * expression, and top-k pre-reduces map-side (TopKSimAgg partial
  * aggregation) so the exchange carries k rows per query per partition,
  * never the scored candidate set. The
  * LSH variant prunes the corpus side to matching buckets first, turning
  * a full scan per query into a bucket-join; multi-probe (flipping one
  * plane bit) recovers recall at bucket boundaries.
  *
  * Every serve path, batch and streaming, has one shape: its own
  * candidate source (all pairs, IVF cells, LSH buckets, a PQ
  * shortlist) feeding the one exact tail [[exactTopK]]. A persisted
  * IVF index is read only through [[IvfIndexReader]].
  */
object Similarity {

  /** Scalar int8 quantization of an embedding column: per-vector
    * absmax scale, codes = floor(x / scale * 127) in [-127, 127]. The
    * compression step a 100 TB vector lake runs before indexing (4×
    * smaller, cache-resident cells for IVF probing). floor (not round)
    * keeps the arithmetic bit-portable to the DuckDB oracle: every step
    * is IEEE double ops in fixed order with no tie-breaking mode. */
  def quantizeInt8(df: DataFrame, embCol: String = "embedding"): DataFrame = {
    val scale = array_max(transform(col(embCol), x => abs(x))).cast("double")
    df.withColumn("scale", scale)
      .withColumn("codes",
        when(col("scale") === 0.0, transform(col(embCol), _ => lit(0L)))
          .otherwise(transform(col(embCol),
            x => floor(x.cast("double") / col("scale") * 127).cast("long"))))
  }

  /** Deterministic, cross-engine-portable hyperplanes for
    * sign-random-projection. Component g = planeIdx*dim + i is a
    * quadratic congruential hash mapped to [-0.5, 0.5):
    *
    *   t = g + seed;  u = (A*((t*t) mod P) + B*t) mod P;  comp = u/P - 0.5
    *
    * with P = 2^31-1, A = 1103515245, B = 12345. Every intermediate fits
    * in a signed 64-bit integer (t ≤ ~2^31 ⇒ t*t mod P computed on
    * t ≤ 3e9 stays < 2^63), so a SQL oracle can replay the exact doubles:
    * integer arithmetic is exact and the single division is correctly
    * rounded identically under IEEE 754 in any engine (llm10/llm18
    * oracles in queries/Llm.scala replicate this formula literally —
    * keep them in lockstep). Quadratic, not linear, so distinct planes
    * are not shifted copies of one another (a linear u(g) would make
    * every plane an arithmetic progression of its neighbor). SRP only
    * needs symmetric zero-mean directions — recall vs the Gaussian
    * planes this replaces is equivalent (pinned in LlmOpsSpec). */
  def planes(nPlanes: Int, dim: Int, seed: Long = 42L): Array[Array[Double]] =
    Array.tabulate(nPlanes) { j =>
      Array.tabulate(dim)(i => planeComponent(j.toLong * dim + i, seed))
    }

  /** One plane component — the SQL-replicable kernel of [[planes]].
    * The guard keeps the kernel inside the SQL-replayable domain: t*t
    * wraps Long past ~3.04e9 (where a BIGINT engine would error or
    * diverge) and a negative t would push components outside
    * [-0.5, 0.5) — fail loud instead of silently de-synchronizing the
    * cross-engine contract. */
  def planeComponent(g: Long, seed: Long): Double = {
    val P = 2147483647L
    val t = g + seed
    require(t >= 0 && t <= 3037000499L,
      s"plane index + seed ($t) outside the overflow-safe [0, 3037000499] domain")
    val u = (1103515245L * ((t * t) % P) + 12345L * t) % P
    u.toDouble / P.toDouble - 0.5
  }

  /** Adds an integer `bucket` column: bit i = sign(v . plane_i). */
  def srpBucket(df: DataFrame, embCol: String, nPlanes: Int = 12,
      dim: Int = 64, seed: Long = 42L): DataFrame = {
    val ps = planes(nPlanes, dim, seed)
    val bits = ps.zipWithIndex.map { case (p, i) =>
      when(dot_product(col(embCol), lit(p)) >= 0, lit(1 << i)).otherwise(lit(0))
    }
    df.withColumn("bucket", bits.reduce(_ + _))
  }

  /** Per-query top-k of a scored candidate frame, pre-reduced BEFORE
    * the exchange: a k-bounded native aggregate (TopKSimAgg) runs
    * map-side, so the shuffle carries at most k (id, sim) pairs per
    * query per map partition instead of every scored candidate row —
    * guide §2.3 (shuffle fewer bytes). The
    * `row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, id)`
    * window this replaces exchanged the FULL O(corpus·nProbe) scored
    * set and sorted it just to keep k rows per query — the standing
    * 100 TB scale risk of every ANN serve path. Rows, sims, ranks and
    * tie order are identical (same Double.compare total order, ties by
    * ascending id, rank = array position + 1). */
  private[graft] def topKPerQuery(scored: DataFrame, k: Int, id: String,
      simCol: String = "sim"): DataFrame =
    scored.groupBy(col("query_id"))
      .agg(top_k_by_sim(col(id), col(simCol), k).as("topk"))
      .select(col("query_id"), posexplode(col("topk")))
      .select(col("query_id"), col("col.neighbor_id").as("neighbor_id"),
        col("col.sim").as(simCol), (col("pos") + lit(1)).cast("int").as("rank"))

  /** The (query_id, q_emb) query side every serve path pairs with its
    * candidates. */
  private[graft] def queryFrame(queries: DataFrame, embCol: String,
      id: String): DataFrame =
    queries.select(col(id).as("query_id"), col(embCol).as("q_emb"))

  /** Exact scoring of candidate pairs (corpus `id`/`embCol` beside
    * query `query_id`/`q_emb`, whatever source produced them): drop
    * self-pairs, then exact cosine into `sim`. */
  private[graft] def scoreExact(cands: DataFrame, embCol: String,
      id: String): DataFrame =
    cands.filter(col(id) =!= col("query_id"))
      .withColumn("sim", cosine_sim(col(embCol), col("q_emb")))

  /** The exact tail every serve path ends in, batch and streaming:
    * [[scoreExact]] then [[topKPerQuery]]. Paths differ only in the
    * candidate source feeding it (all pairs, IVF cells, LSH buckets, a
    * PQ shortlist). */
  private[graft] def exactTopK(cands: DataFrame, k: Int, embCol: String,
      id: String): DataFrame =
    topKPerQuery(scoreExact(cands, embCol, id), k, id)

  /** Brute-force cosine top-k: every query vs every corpus vector.
    * Correctness baseline and the right plan when queries are few —
    * the corpus is scanned once, queries ride along broadcast. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      embCol: String = "embedding", id: String = "vec_id"): DataFrame =
    exactTopK(corpus.select(col(id), col(embCol))
      .crossJoin(broadcast(queryFrame(queries, embCol, id))), k, embCol, id)

  /** Metadata-FILTERED exact top-k — the production vector-search axis
    * every serving stack needs (top-k among `label = X` / tenant = T /
    * date-range): the predicate applies to the CORPUS before scoring,
    * so each query's neighbors all satisfy it. Exact form: filter →
    * broadcast-queries cross score → per-query k-window; the filter
    * reaches the scan (column-pruned, predicate-pushed), so a selective
    * predicate shrinks the scored set linearly. At 100 TB with a DENSE
    * predicate, swap the scored side for the IVF cell scan and apply
    * the predicate inside the probed cells (same composition:
    * `ivfTopK(corpus.filter(pred), ...)`) — filtering before indexing
    * beats post-filtering a k-deep result, which under-fills k when the
    * predicate is selective. */
  def filteredTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      corpusPred: Column, embCol: String = "embedding",
      id: String = "vec_id"): DataFrame =
    bruteForceTopK(corpus.filter(corpusPred), queries, k, embCol, id)

  /** Deterministic k-means centroids for IVF, trained on a bounded
    * hash-ordered sample (the FAISS recipe: the coarse quantizer never
    * needs the full corpus — `maxTrain` vectors bound driver memory and
    * make training cost independent of corpus size). One distributed
    * pass extracts the sample (per-partition bounded heap via
    * takeOrdered, no global sort); Lloyd iterations then run in the
    * driver over ≤ maxTrain × dim doubles. Only cell ASSIGNMENT — the
    * part that is O(corpus) — stays distributed (see ivfTopK). */
  def kmeansCentroids(corpus: DataFrame, embCol: String, kClusters: Int,
      iters: Int = 3, dim: Int = 64, seed: Long = 42L,
      maxTrain: Int = 100000): Array[Array[Double]] =
    lloyd(trainSample(corpus, embCol, seed, maxTrain), kClusters, iters, dim)

  /** The bounded hash-ordered training sample (one distributed pass,
    * per-partition bounded heap via takeOrdered — no global sort),
    * shared by the IVF coarse quantizer and the PQ codebooks. */
  private def trainSample(corpus: DataFrame, embCol: String, seed: Long,
      maxTrain: Int): Array[Array[Float]] = {
    val spark = corpus.sparkSession
    import spark.implicits._
    // hash-ordered with a full lexicographic tie-break on the vector
    // itself: on a murmur collision at the maxTrain boundary the retained
    // set must not depend on partition traversal order
    val sampleOrd = new Ordering[(Int, Array[Float])] {
      def compare(a: (Int, Array[Float]), b: (Int, Array[Float])): Int = {
        val c = java.lang.Integer.compare(a._1, b._1)
        if (c != 0) return c
        val (x, y) = (a._2, b._2)
        val n = math.min(x.length, y.length)
        var i = 0
        while (i < n) {
          val c2 = java.lang.Float.compare(x(i), y(i))
          if (c2 != 0) return c2
          i += 1
        }
        java.lang.Integer.compare(x.length, y.length)
      }
    }
    corpus.select(col(embCol)).as[Array[Float]]
      .rdd
      .map(v => (scala.util.hashing.MurmurHash3.arrayHash(v, seed.toInt), v))
      .takeOrdered(maxTrain)(sampleOrd)
      .map(_._2)
  }

  /** Driver Lloyd iterations over a bounded sample. */
  private def lloyd(sample: Array[Array[Float]], kClusters: Int,
      iters: Int, dim: Int): Array[Array[Double]] = {
    // deterministic init: the first k DISTINCT vectors of the
    // hash-sorted sample. Plain take(k) breaks down on duplicate-heavy
    // data — identical vectors share a hash and sort ADJACENT, so a
    // duplicated point can seed several identical centroids, which
    // Lloyd can never separate (ties go to the lowest index; the
    // clones stay empty and keep their init forever) — collapsing
    // effective k exactly when a rebuild ingests a drift-collapsed
    // batch. Distinct-scan is free on all-distinct data (first k).
    var centroids = {
      val init = new scala.collection.mutable.ArrayBuffer[Array[Float]](kClusters)
      var i = 0
      while (i < sample.length && init.length < kClusters) {
        val v = sample(i)
        if (!init.exists(java.util.Arrays.equals(_, v))) init += v
        i += 1
      }
      // fewer distinct points than clusters: pad with repeats (the
      // surplus cells stay empty — harmless, matches prior behavior)
      var j = 0
      while (init.length < kClusters && sample.nonEmpty) {
        init += sample(j % sample.length); j += 1
      }
      init.toArray.map(_.map(_.toDouble))
    }
    // actual width from the data — the dim parameter is only a hint and
    // must not bound the accumulators (128-dim vectors with dim=64
    // would overflow a dim-sized sum array)
    val width = if (sample.nonEmpty) sample.map(_.length).max else dim
    var it = 0
    while (it < iters) {
      val sums = Array.fill(kClusters)(new Array[Double](width))
      val counts = new Array[Long](kClusters)
      var vi = 0
      while (vi < sample.length) {
        val v = sample(vi)
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < centroids.length) {
          var d = 0.0; var i = 0
          val n = math.min(v.length, centroids(c).length)
          while (i < n) { val t = v(i) - centroids(c)(i); d += t * t; i += 1 }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        val s = sums(best)
        var i = 0
        val m = math.min(v.length, s.length)
        while (i < m) { s(i) += v(i); i += 1 }
        counts(best) += 1
        vi += 1
      }
      centroids = centroids.indices.map { c =>
        if (counts(c) > 0) sums(c).map(_ / counts(c)) else centroids(c)
      }.toArray
      it += 1
    }
    centroids
  }

  /** Product-quantization codebooks: the vector splits into `m`
    * subvectors of dim/m; each subspace gets its own `ksub`-codeword
    * Lloyd codebook, all trained from ONE shared bounded sample pass
    * (driver memory and training cost independent of corpus size —
    * same posture as the IVF coarse quantizer). */
  def pqCodebooks(corpus: DataFrame, embCol: String, m: Int, ksub: Int,
      dim: Int = 64, iters: Int = 3, seed: Long = 42L,
      maxTrain: Int = 100000): Array[Array[Array[Double]]] =
    booksFromSample(trainSample(corpus, embCol, seed, maxTrain), m, ksub, dim, iters)

  private def booksFromSample(sample: Array[Array[Float]], m: Int, ksub: Int,
      dim: Int, iters: Int): Array[Array[Array[Double]]] = {
    require(m > 0 && dim % m == 0, s"dim=$dim must divide into m=$m subvectors")
    val dsub = dim / m
    // dim here is NOT a hint (unlike lloyd's): slicing by a dim smaller
    // than the data would silently quantize a prefix of each vector
    require(sample.isEmpty || sample.head.length == dim,
      s"dim=$dim but corpus vectors have ${sample.headOption.map(_.length).getOrElse(0)} dims")
    Array.tabulate(m) { j =>
      lloyd(sample.map(v => v.slice(j * dsub, (j + 1) * dsub)), ksub, iters, dsub)
    }
  }

  /** Unit-normalized centroid rows — spherical assignment. IVF cell
    * assignment and probing run on argmax DOT similarity, but the
    * index SERVES cosine: with raw k-means means as centroids,
    * argmax-dot is biased toward high-norm centroids (a centroid of
    * near-identical vectors keeps norm ~1 while the mean of a spread
    * cluster is much shorter), so one heavy direction swallows mass
    * that directionally belongs elsewhere — exactly what a rebuild
    * after a collapsed-batch append exposed. Normalizing makes
    * argmax-dot == argmax-cosine, consistent with the unit-norm
    * training geometry and the cosine serving metric (the spherical
    * k-means convention cosine ANN indexes use). Applied where
    * centroids are CREATED (train/build/rebuild), so persisted indexes
    * carry unit centroids and every reader is consistent for free. */
  private def unitCentroids(cs: Array[Array[Double]]): Array[Array[Double]] =
    cs.map { c =>
      val n = math.sqrt(c.map(x => x * x).sum)
      if (n > 0) c.map(_ / n) else c
    }

  /** argmax over centroid dot-similarities — deterministic ties by cell
    * index. `NearestCells(..., 1)` with the centroid matrix as a plan
    * reference object: the earlier struct-array/array_min form embedded
    * kClusters×dim literal doubles in the plan, whose analysis cost the
    * driver paid on every execution. */
  private[graft] def cellOf(centroids: Array[Array[Double]])(
      e: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    nearest_cells(e, centroids, 1).getItem(0)

  /** IVF top-k: corpus assigned to its nearest centroid (one pass);
    * queries probe the nProbe nearest centroid cells. The coarse
    * quantizer is the classic ANN scale path — cells shrink the
    * candidate set by ~kClusters/nProbe regardless of data
    * distribution (unlike SRP's angle-dependent buckets). */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      kClusters: Int = 16, nProbe: Int = 4,
      embCol: String = "embedding", id: String = "vec_id", dim: Int = 64): DataFrame = {
    val centroids =
      unitCentroids(kmeansCentroids(corpus, embCol, kClusters, dim = dim))
    val cb = corpus.withColumn("cell", cellOf(centroids)(col(embCol)))
    ivfScore(cb, ivfProbes(queries, centroids, nProbe, embCol, id), k, embCol, id)
  }

  /** (query_id, q_emb, cell) probe rows: each query explodes to its
    * nProbe nearest centroid cells. */
  private[graft] def ivfProbes(queries: DataFrame, centroids: Array[Array[Double]],
      nProbe: Int, embCol: String, id: String): DataFrame = {
    // fail at plan time: nProbe <= 0 would probe zero cells and surface
    // as an empty result rather than a misconfiguration
    require(nProbe >= 1, s"nProbe must be >= 1, got $nProbe")
    queryFrame(queries, embCol, id)
      .withColumn("cell", explode(nearest_cells(col("q_emb"), centroids, nProbe)))
  }

  /** Exact-cosine scoring of a cell-assigned corpus against broadcast
    * probe rows; per-query top-k with deterministic ties. */
  private[graft] def ivfScore(cb: DataFrame, probes: DataFrame, k: Int,
      embCol: String, id: String): DataFrame = {
    // parallelism floor BEFORE the scoring join: the probe join + exact
    // cosine per candidate is the CPU-dense O(corpus·nProbe/kClusters)
    // term, and without the floor it runs only as wide as the input
    // file count (the canonicalShingleFrames lesson; r17 ProfileJobs
    // measured the whole serve as one task on a 1-file corpus). At
    // scale fileScanWidth ≥ cores and the floor is a no-op — no
    // repartition of a 100 TB corpus sneaks in.
    exactTopK(OpUtils.parallelismFloor(cb).join(broadcast(probes), "cell"),
      k, embCol, id)
  }

  /** The one reader of a persisted IVF index (written by
    * [[buildIvfIndex]] and the maintenance ops through [[IndexLog]]):
    * `centroids` (one row per cell), the cell-partitioned `corpus`, and
    * the optional `tombstones` id list ([[deleteFromIvfIndex]]). A
    * reader holds one snapshot of the index's head commit, so each
    * operation builds its own and every frame it reads comes from that
    * one version. */
  private[graft] final class IvfIndexReader(spark: SparkSession, path: String) {
    val snapshot: IndexLog.Snapshot = IndexLog.snapshot(spark, path)

    /** The (cell, centroid) table. */
    def centroidTable: DataFrame = snapshot.frame("centroids")

    /** The coarse quantizer collected in cell order (one driver action). */
    def centroids: Array[Array[Double]] =
      centroidTable.orderBy(col("cell")).select(col("centroid"))
        .collect().map(_.getSeq[Double](0).toArray)

    /** Every stored corpus row, tombstoned ones included. */
    def stored: DataFrame = snapshot.frame("corpus")

    /** The tombstoned ids (duplicates possible), if any delete landed. */
    lazy val tombstones: Option[DataFrame] =
      snapshot.tables.get("tombstones").map(_ => snapshot.frame("tombstones"))

    /** The live corpus: `scope` applied to the stored rows, then the
      * tombstoned ids anti-joined out (broadcast — small by the
      * [[deleteFromIvfIndex]] contract) when any exist. */
    def live(id: String, scope: DataFrame => DataFrame = identity): DataFrame = {
      val c = scope(stored)
      tombstones.fold(c)(t => c.join(broadcast(t.distinct()), Seq(id), "left_anti"))
    }
  }

  /** Build and PERSIST an IVF index: `centroids` holds the trained
    * coarse quantizer, `corpus` the cell-assigned corpus written
    * `partitionBy("cell")`, both committed together through
    * [[IndexLog]] (a build over an existing index replaces it in one
    * commit). Training and assignment run ONCE; every later session
    * queries the files. The cell partitioning is the point at 100 TB: a
    * probe reads only its nProbe cells' files (file-level pruning), so
    * per-query scan cost is ~nProbe/kClusters of the corpus instead of
    * all of it. */
  def buildIvfIndex(corpus: DataFrame, path: String, kClusters: Int = 16,
      embCol: String = "embedding", id: String = "vec_id", dim: Int = 64): Unit = {
    val spark = corpus.sparkSession
    val base = IndexLog.head(spark, path)
    val centroids =
      unitCentroids(kmeansCentroids(corpus, embCol, kClusters, dim = dim))
    IndexLog.commit(spark, path, "ivfbuild", base, Map(
      "centroids" -> writeCentroids(spark, path, centroids),
      "corpus" -> IndexLog.write(corpus.withColumn("cell", cellOf(centroids)(col(embCol))),
        path, "corpus", Some("cell"))))
  }

  /** The (cell, centroid) table of `centroids`, written as ONE file. */
  private def writeCentroids(spark: SparkSession, path: String,
      centroids: Array[Array[Double]]): IndexLog.Table = {
    import spark.implicits._
    IndexLog.write(centroids.zipWithIndex.toIndexedSeq
      .map { case (c, i) => (i, c.toSeq) }
      .toDF("cell", "centroid").repartition(1), path, "centroids")
  }

  /** Append a NEW vector batch to a prebuilt IVF index WITHOUT
    * retraining — the production index-maintenance path (FAISS `add()`
    * semantics): cells stay the build-time Voronoi partition, the
    * batch is assigned with one narrow pass against the persisted
    * centroids, and the partitioned append touches only the batch's
    * cell directories. At 100 TB this is the only affordable form —
    * re-clustering the lake per batch is off the table; rebuild when
    * drift makes appended cells grossly unbalanced (a production
    * wrapper monitors per-cell counts). Serving via ivfTopKFromIndex
    * sees old + new vectors transparently.
    *
    * Two id states refuse LOUD instead of corrupting the index
    * silently (the cluster-index lifecycle lesson, applied here):
    *
    *   - a TOMBSTONED batch id: the old row is still physically in its
    *     cell, so appending a new row under the same id either stays
    *     invisible (serving anti-joins the tombstone list) or — worse —
    *     is permanently LOST when a later [[compactIvfIndex]]
    *     materializes the anti-join and clears the list. Re-append
    *     after delete requires physical removal first: compact (or
    *     rebuild), then append.
    *   - an ALREADY-LIVE batch id: the append-mode write would serve
    *     duplicate rows for one identity (top-k pollution). This also
    *     catches the retry of a crashed append that landed part of its
    *     batch — recover by tombstoning the batch ids, compacting, and
    *     re-appending, or rebuild.
    *
    * Both checks are column-pruned id scans streaming against the
    * broadcast batch ids — no vector bytes are read. */
  def appendToIvfIndex(spark: SparkSession, path: String, batch: DataFrame,
      embCol: String = "embedding", id: String = "vec_id"): Unit =
    append(new IvfIndexReader(spark, path), batch, embCol, id, Set.empty)

  /** The guarded append of [[appendToIvfIndex]] against `idx`'s
    * snapshot; its commit records `ops`. */
  private def append(idx: IvfIndexReader, batch: DataFrame, embCol: String,
      id: String, ops: Set[String]): Unit = {
    val path = idx.snapshot.root
    val batchIds = broadcast(batch.select(col(id)).distinct())
    idx.tombstones.foreach { tombs =>
      val t = tombs.join(batchIds, Seq(id), "left_semi").limit(1).collect()
      require(t.isEmpty,
        s"appendToIvfIndex($path): $id ${t.headOption.map(_.get(0))} is " +
          "tombstoned — its old row is still in the corpus, so a re-append " +
          "would be invisible now and dropped for good at the next " +
          "compaction; run compactIvfIndex (or rebuildIvfIndex) first")
    }
    val dup = idx.stored.select(col(id))
      .join(batchIds, Seq(id), "left_semi").limit(1).collect()
    require(dup.isEmpty,
      s"appendToIvfIndex($path): $id ${dup.headOption.map(_.get(0))} is " +
        "already indexed — appending would serve duplicate rows for one " +
        "identity; if this is the retry of a crashed append, tombstone the " +
        "batch ids and compact (or rebuild), then append again")
    // a duplicate id WITHIN the batch slips past both guards above
    // (batchIds is distinct-ed) and writes two corpus rows for one
    // identity — the exact failure the already-indexed check refuses
    val batchDup = batch.groupBy(col(id)).count()
      .filter(col("count") > 1).limit(1).collect()
    require(batchDup.isEmpty,
      s"appendToIvfIndex($path): batch contains duplicate $id " +
        s"${batchDup.headOption.map(_.get(0))} — one identity would serve " +
        "two corpus rows; dedup the batch before appending")
    val added = IndexLog.write(batch.withColumn("cell", cellOf(idx.centroids)(col(embCol))),
      path, "corpus", Some("cell"))
    idx.snapshot.commit("ivfapp", Map("corpus" -> (idx.snapshot.table("corpus") ++ added)), ops)
  }

  /** [[appendToIvfIndex]] under AT-LEAST-ONCE delivery — the streaming
    * sink's form. Replay detection keys on the COMMIT, not on liveness
    * alone: the append's commit records an order-independent digest of
    * the batch's id SET among its op ids, so a batch whose ids are all
    * live AND whose digest a commit recorded is the replay of a
    * committed append (no-op), while an all-live batch with NO recorded
    * digest — foreign ids appended by another op, or a batch reusing
    * live ids with DIFFERENT embeddings — refuses loud instead of
    * silently swallowing the new vectors (every comparable path here
    * refuses loud on already-indexed ids; this op must not be the one
    * silent exception). PARTIAL liveness still refuses loud inside the
    * raw append (the documented tombstone-compact-reappend/rebuild
    * case, never a silent retry). Data and digest land in ONE commit,
    * so a failed or crashed append records nothing. Like the semDedup
    * append, the digest keys on the id SET only: a replay that reuses a
    * committed batch's exact id set with different embeddings no-ops by
    * contract (ids are identity).
    *
    * Cost: one column-pruned corpus id scan streaming against the
    * broadcast batch ids (the same cost the append's own guard pays),
    * one order-independent hash aggregate over the batch ids (no
    * driver-side id collect); the digest lookup reads the snapshot. */
  def appendToIvfIndexIdempotent(spark: SparkSession, path: String,
      batch: DataFrame, embCol: String = "embedding",
      id: String = "vec_id"): Unit = {
    val batchIds = batch.select(col(id)).distinct().localCheckpoint(true)
    val nBatch = batchIds.count()
    if (nBatch == 0) return
    // order-independent 128-bit-ish digest of the id set, computed
    // DISTRIBUTED (two salted per-id xxhash64 streams folded with
    // bit_xor — overflow-free under ANSI, order-independent, and the
    // ids are already distinct so xor self-cancellation needs a hash
    // collision — plus min/max/count): batches are micro-batch-sized
    // by contract, but the digest must not be the reason this path
    // collects ids to the driver
    val d = batchIds.agg(
      bit_xor(xxhash64(col(id))).as("s"),
      bit_xor(xxhash64(col(id), lit(1))).as("s2"),
      min(col(id)).as("lo"), max(col(id)).as("hi")).head()
    val digest = java.lang.Long.toHexString(d.getLong(0)) + "-" +
      java.lang.Long.toHexString(d.getLong(1)) + "-" +
      s"${d.get(2)}-${d.get(3)}-$nBatch"
    // "live" must exclude TOMBSTONED rows: a stored-but-tombstoned id
    // means the batch is a genuine re-append after a delete, which must
    // fall through to the raw append's loud compact-then-reappend
    // refusal — an all-stored no-op here would silently swallow the new
    // vectors while serving anti-joins the old ones out
    val idx = new IvfIndexReader(spark, path)
    val live = idx.live(id,
      _.select(col(id)).distinct().join(broadcast(batchIds), Seq(id), "left_semi"))
    if (live.count() == nBatch) {
      require(idx.snapshot.ops.contains(digest),
        s"appendToIvfIndexIdempotent($path): every batch id is already " +
          "live but no commit marker exists for this exact id set — this " +
          "is NOT the replay of an append made through this op (the ids " +
          "were appended by another path, or the batch reuses live ids " +
          "with different embeddings, which a silent no-op would swallow); " +
          "delete the ids and compact (or rebuild), then append")
      return // committed replay: no-op
    }
    append(idx, batch, embCol, id, Set(digest))
  }

  /** DELETE vectors from a prebuilt IVF index as TOMBSTONES — the third
    * index-maintenance op next to build and append, and like append the
    * only affordable form at lake scale: rewriting cell files per delete
    * batch is off the table, so deletes land as an id list under
    * `$path/tombstones` and serving anti-joins it (broadcast — the
    * tombstone set is small relative to the corpus by operational
    * contract; when it stops being small, COMPACT: rewrite the cells
    * dropping tombstoned rows and clear the list, exactly the
    * LSM/FAISS `remove_ids` trade). Idempotent: deleting an id twice
    * just duplicates a tombstone row; the anti-join is set-semantic. */
  def deleteFromIvfIndex(spark: SparkSession, path: String,
      ids: DataFrame, id: String = "vec_id"): Unit = {
    val snap = IndexLog.snapshot(spark, path)
    val added = IndexLog.write(ids.select(col(id)), path, "tombstones")
    snap.commit("ivfdel",
      Map("tombstones" -> snap.tables.get("tombstones").fold(added)(_ ++ added)))
  }

  /** COMPACT a tombstoned IVF index: rewrite the cell-partitioned
    * corpus dropping tombstoned rows, then clear the tombstone list —
    * the LSM/FAISS `remove_ids` escape hatch [[deleteFromIvfIndex]]
    * documents for when the tombstone set stops being small (every
    * query pays the anti-join; one partitioned rewrite makes reads
    * clean again). Serving before/after is identical by construction —
    * the compaction materializes exactly the anti-join the read path
    * applies. One commit swaps the rewritten corpus in and drops the
    * tombstone list together, so a reader sees either the tombstoned
    * corpus or the compacted one, and a crash at any step leaves the
    * last committed state. At 100 TB the rewrite is a narrow
    * distributed copy — the input is already cell-partitioned, so
    * partitionBy re-writes without a shuffle — not a re-index. */
  def compactIvfIndex(spark: SparkSession, path: String,
      id: String = "vec_id"): Unit = {
    val idx = new IvfIndexReader(spark, path)
    if (idx.tombstones.isEmpty) return
    val corpus = IndexLog.write(idx.live(id), path, "corpus", Some("cell"))
    // an all-rows-tombstoned compaction would commit an empty corpus —
    // refuse and keep the servable tombstoned state
    if (corpus.files.isEmpty) throw new IllegalStateException(
      s"compactIvfIndex($path): every corpus row is tombstoned — the " +
        "compacted corpus would be empty and unreadable; delete the " +
        "index directory instead of compacting it away")
    idx.snapshot.commit("ivfcompact", Map("corpus" -> corpus), drop = Set("tombstones"))
  }

  /** REBUILD a drifted IVF index in place: re-train the coarse
    * quantizer from the LIVE corpus (current vectors minus tombstones)
    * and re-assign every vector — the operation [[ivfDriftReport]]'s
    * `advise_rebuild` calls for, completing the lifecycle
    * build → append → delete → compact → rebuild. Append assigns
    * against FROZEN build-time centroids, so a shifted input
    * distribution piles batches into few cells; rebuild restores the
    * balanced Voronoi partition (and, since the rewrite drops
    * tombstoned rows anyway, doubles as a compaction). kClusters and
    * dim are carried over from the existing index.
    *
    * The centroid/corpus PAIR is swapped in by ONE commit (which also
    * drops the tombstone list — the rebuilt corpus already excludes
    * those rows), so no reader ever scores new cell assignments against
    * old centroids, and a crash at any step leaves the last committed
    * pair.
    *
    * 100 TB posture: same cost shape as [[buildIvfIndex]] — a bounded
    * driver-side training sample plus one distributed assignment
    * rewrite (shuffle-free except partitionBy's file split); the
    * operational contract is that rebuilds are RARE, gated by the
    * drift report, not per-batch. */
  def rebuildIvfIndex(spark: SparkSession, path: String,
      embCol: String = "embedding", id: String = "vec_id"): Unit = {
    val idx = new IvfIndexReader(spark, path)
    val oldCentroids = idx.centroids
    val kClusters = oldCentroids.length
    val dim = oldCentroids.head.length
    val live = idx.live(id, _.drop("cell"))
    // an all-rows-tombstoned rebuild has nothing to train on — refuse
    // BEFORE writing anything, keep the servable tombstoned state
    // (limit-1 probe; rebuilds are rare admin ops)
    if (live.isEmpty) throw new IllegalStateException(
      s"rebuildIvfIndex($path): the live corpus is empty — the rebuilt " +
        "index would be unreadable; delete the index directory instead")
    val centroids = unitCentroids(kmeansCentroids(live, embCol, kClusters, dim = dim))
    idx.snapshot.commit("ivfrebuild", Map(
      "centroids" -> writeCentroids(spark, path, centroids),
      "corpus" -> IndexLog.write(live.withColumn("cell", cellOf(centroids)(col(embCol))),
        path, "corpus", Some("cell"))),
      drop = Set("tombstones"))
  }

  /** Per-cell occupancy of a prebuilt IVF index — the drift monitor
    * [[appendToIvfIndex]] calls for: append assigns against FROZEN
    * build-time centroids, so a shifting input distribution piles new
    * vectors into few cells and probe cost degrades toward a scan of
    * those cells. One row per centroid cell (empty cells INCLUDED —
    * they are the other face of drift), with live/tombstoned splits so
    * the pending-compaction mass is visible too.
    *
    * 100 TB posture: `n_total` needs only the partition column, so the
    * scan reads parquet footers, not vector data; the tombstone split
    * joins on the id column with the tombstone list broadcast (small by
    * the [[deleteFromIvfIndex]] contract); the final join is against
    * the kClusters-row centroid table. No vector bytes are read. */
  def ivfCellStats(spark: SparkSession, path: String,
      id: String = "vec_id"): DataFrame = {
    val idx = new IvfIndexReader(spark, path)
    val cells = idx.centroidTable.select(col("cell"))
    val corpus = idx.stored
    val totals = corpus.groupBy(col("cell")).agg(count(lit(1)).as("n_total"))
    import spark.implicits._
    val dead = idx.tombstones.fold(Seq.empty[(Int, Long)].toDF("cell", "n_tomb")) {
      t => corpus.join(broadcast(t.distinct()), Seq(id), "left_semi")
        .groupBy(col("cell")).agg(count(lit(1)).as("n_tomb"))
    }
    cells.join(totals, Seq("cell"), "left")
      .join(dead, Seq("cell"), "left")
      .select(col("cell"),
        coalesce(col("n_total"), lit(0L)).as("n_total"),
        coalesce(col("n_tomb"), lit(0L)).as("n_tombstoned"),
        (coalesce(col("n_total"), lit(0L)) -
          coalesce(col("n_tomb"), lit(0L))).as("n_live"))
  }

  /** Rebuild advisory over [[ivfCellStats]]: one row summarizing how
    * unbalanced the index has become, with `advise_rebuild` set when
    * the fullest cell holds more than `maxOverMedian`× the median
    * NON-EMPTY cell's live vectors (the cost model is direct: a probe
    * that lands in the fullest cell scans max/median times the vectors
    * a balanced probe would), or `advise_compact` when tombstones pass
    * `maxTombstoneFrac` of the TOTAL stored mass (live+tombstoned —
    * the bytes a probe actually reads past; compact instead of
    * rebuild). Empty cells are reported but never trip the rebuild
    * advisory on their own — a fresh sparse index legitimately has
    * them, which is exactly why the median is taken over occupied
    * cells only (a median over all cells collapses to 0 once half are
    * empty, turning the ratio threshold into an absolute vector
    * count). At tiny/sparse scale the occupied median itself can sit
    * at ~1 vector, where `greatest(median, 1)` degrades the ratio to
    * an absolute max-cell count — so the rebuild advisory additionally
    * requires `max_cell >= minRebuildCell` live vectors: below that a
    * probe scans at most a few dozen vectors regardless of layout, and
    * "rebuild" would cost more than it could ever save. The aggregate
    * input is kClusters rows, so the single-row reduction is trivially
    * cheap at any corpus size. */
  def ivfDriftReport(spark: SparkSession, path: String,
      maxOverMedian: Double = 4.0, maxTombstoneFrac: Double = 0.2,
      minRebuildCell: Long = 32L,
      id: String = "vec_id"): DataFrame =
    ivfCellStats(spark, path, id).agg(
        count(lit(1)).as("n_cells"),
        sum(when(col("n_live") === 0, 1L).otherwise(0L)).as("n_empty_cells"),
        sum(col("n_live")).as("total_live"),
        sum(col("n_tombstoned")).as("total_tombstoned"),
        max(col("n_live")).as("max_cell"),
        expr("percentile(CASE WHEN n_live > 0 THEN n_live END, 0.5)")
          .as("median_cell"))
      .select(col("n_cells"), col("n_empty_cells"), col("total_live"),
        col("total_tombstoned"), col("max_cell"),
        coalesce(col("median_cell"), lit(0.0)).as("median_cell"),
        (col("max_cell") / greatest(col("median_cell"), lit(1.0)))
          .as("skew_ratio"),
        (col("total_tombstoned") >
          (col("total_live") + col("total_tombstoned")).cast("double") *
            maxTombstoneFrac)
          .as("advise_compact"),
        (col("max_cell") >
          greatest(col("median_cell"), lit(1.0)) * maxOverMedian &&
          col("max_cell") >= minRebuildCell)
          .as("advise_rebuild"))

  /** IVF top-k over a PREBUILT index (see buildIvfIndex) — no training,
    * no full-corpus assignment pass. The probed cells are collected from
    * the query side (small — it is broadcast anyway) and applied as a
    * STATIC partition filter, so the parquet scan plans only the probed
    * cell directories; results are identical to ivfTopK with the same
    * parameters (same centroids, same deterministic ties). When the
    * index carries tombstones (deleteFromIvfIndex), they are anti-joined
    * out of the scored cells (broadcast, before scoring — a deleted
    * vector neither costs a cosine nor occupies a k-slot). */
  def ivfTopKFromIndex(spark: SparkSession, path: String, queries: DataFrame,
      k: Int, nProbe: Int = 4,
      embCol: String = "embedding", id: String = "vec_id"): DataFrame = {
    val idx = new IvfIndexReader(spark, path)
    val centroids = idx.centroids
    // probes materialize once (eager localCheckpoint): both the cell
    // collection below and the scoring join read them, and each read
    // would otherwise re-evaluate the kClusters×dim centroid-similarity
    // transform over every query row
    val probes = ivfProbes(queries, centroids, nProbe, embCol, id)
      .localCheckpoint(true)
    val probedCells = probes.select(col("cell")).distinct()
      .collect().map(_.getInt(0)).sorted
    val cb = idx.live(id,
      _.filter(col("cell").isin(probedCells.toIndexedSeq.map(Integer.valueOf): _*)))
    ivfScore(cb, probes, k, embCol, id)
  }

  /** SRP-LSH top-k: corpus pruned to the query's bucket plus one-bit-flip
    * probe buckets. Approximate — recall measured against bruteForceTopK
    * in the spec suite. */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      nPlanes: Int = 12, embCol: String = "embedding", id: String = "vec_id",
      dim: Int = 64): DataFrame = {
    val cb = srpBucket(corpus, embCol, nPlanes, dim)
    val qb = srpBucket(queries, embCol, nPlanes, dim)
      .select(col(id).as("query_id"), col(embCol).as("q_emb"), col("bucket").as("q_bucket"))
    // multi-probe: original bucket + each one-bit flip
    val probes = qb.withColumn("probe",
      explode(array(col("q_bucket") +:
        (0 until nPlanes).map(i => col("q_bucket").bitwiseXOR(lit(1 << i))): _*)))
    exactTopK(cb.join(broadcast(probes), col("bucket") === col("probe")),
      k, embCol, id)
  }

  /** PQ top-k with Asymmetric Distance Computation — the compressed-
    * domain ANN scale path: the corpus stores only `m` small codes per
    * vector plus its norm (m=8, ksub=16 turns a 64-dim float vector's
    * 256 bytes into 8 codes — the representation a 100 TB vector lake
    * can hold in memory), and each candidate costs m lookup-table reads
    * instead of d multiplies. Codes pick the L2-nearest codeword per
    * subspace (argmin ||x_j - c||² via the (distance, idx) struct-min
    * trick — deterministic ties); a query's LUT of subquery×codeword
    * dot products is computed once per query row, then `sim` ≈ cosine:
    * Σ_j lut[j][code_j] / ||x|| (the query norm is constant per query,
    * so the per-query ranking is unchanged by dropping it). The
    * compressed scores build a shortlist of `rerank × k` candidates per
    * query; only the shortlist joins back to the full vectors for exact
    * cosine re-ranking — the standard two-stage PQ pipeline: the
    * O(corpus) scan runs entirely in the compressed domain, the exact
    * pass touches k·rerank rows per query. Composable with the IVF
    * cells for IVF-PQ; recall vs bruteForceTopK pinned in the spec. */
  def pqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      m: Int = 8, ksub: Int = 16, rerank: Int = 4,
      embCol: String = "embedding", id: String = "vec_id", dim: Int = 64): DataFrame = {
    val books = pqCodebooks(corpus, embCol, m, ksub, dim)
    val encoded = pqEncode(corpus, books, dim / m, embCol, id).drop(embCol)
    val q = pqQueryLut(queries, books, dim / m, embCol, id)
    val scored = encoded.crossJoin(broadcast(q))
      .filter(col(id) =!= col("query_id"))
      .withColumn("adc_sim", adcSim(m))
    pqRerank(scored, corpus, queries, k, rerank, embCol, id)
  }

  /** IVF-PQ: the two scale paths composed — the coarse quantizer prunes
    * candidates to the query's nProbe nearest cells AND those candidates
    * score in the compressed domain (m code lookups each), so the
    * per-query cost is (corpus/kClusters)·nProbe ADC lookups instead of
    * a full-corpus float scan; exact re-rank touches only the final
    * shortlist. The index a 100 TB vector lake actually ships: cells
    * partition the corpus, codes make each cell cache-resident.
    *
    * RESIDUAL encoding (the standard FAISS IVFPQ form): codes quantize
    * (x − centroid(cell)), not x — residuals to the assigned coarse
    * centroid carry far less variance than raw vectors, so the same
    * m/ksub bit budget reconstructs finer and the composed index hits
    * the same recall at lower nProbe/rerank than raw-vector PQ. ADC
    * then scores dot(q, x) ≈ dot(q, centroid(cell)) + Σ_j lut[j][code_j]
    * — the per-(query, cell) BIAS term rides the probe rows (nProbe of
    * them per query, computed once against the kClusters-row centroid
    * table), and the lut is raw-query dots against residual codewords. */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      kClusters: Int = 16, nProbe: Int = 4, m: Int = 8, ksub: Int = 16,
      rerank: Int = 4,
      embCol: String = "embedding", id: String = "vec_id", dim: Int = 64): DataFrame = {
    // ONE sample pass feeds both trainings (coarse centroids + all m
    // subspace codebooks) — not one distributed sweep each
    val sample = trainSample(corpus, embCol, seed = 42L, maxTrain = 100000)
    val centroids = unitCentroids(lloyd(sample, kClusters, iters = 3, dim))
    // codebooks train on residuals to the SAME assignment the encoder
    // uses (nearestCellIdx is the driver twin of NearestCells)
    val residuals = sample.map { v =>
      val cent = centroids(
        graft.functions.ExprHelpers.nearestCellIdx(v, centroids))
      Array.tabulate(v.length)(i => (v(i) - cent(i)).toFloat)
    }
    val books = booksFromSample(residuals, m, ksub, dim, iters = 3)
    // same parallelism-floor rationale as ivfScore: cell assignment +
    // residual encode + ADC scoring run in ONE stage whose width is the
    // input file count without it (no-op when the scan is already wide)
    val encoded = OpUtils.parallelismFloor(corpus.select(col(id), col(embCol)))
      .withColumn("cell", cellOf(centroids)(col(embCol)))
      .withColumn("codes",
        pq_codes_residual(col(embCol), col("cell"), centroids, books, dim / m))
      .withColumn("norm",
        sqrt(dot_product(col(embCol), col(embCol).cast("array<double>"))))
      .drop(embCol)
    val probes = pqQueryLut(queries, books, dim / m, embCol, id, keepEmb = true)
      .withColumn("cell", explode(nearest_cells(col("q_emb"), centroids, nProbe)))
      .withColumn("bias", centroid_dot(col("q_emb"), col("cell"), centroids))
      .drop("q_emb")
    val scored = encoded.join(broadcast(probes), "cell")
      .filter(col(id) =!= col("query_id"))
      .withColumn("adc_sim", adcSim(m, bias = Some(col("bias"))))
    pqRerank(scored, corpus, queries, k, rerank, embCol, id)
  }

  /** The compressed corpus: m codes + the vector norm per row (the
    * embedding column is retained for callers that still need it —
    * pqTopK drops it, ivfPqTopK first derives the cell). */
  private def pqEncode(corpus: DataFrame, books: Array[Array[Array[Double]]],
      dsub: Int, embCol: String, id: String): DataFrame =
    // codes via ONE reference-object expression (PqCodes) — the earlier
    // m×ksub struct-literal/array_min form re-paid its plan analysis on
    // every execution, same driver-cost pattern NearestCells fixed.
    // Parallelism floor: encode + downstream ADC scoring share one
    // stage, file-count-wide without it (no-op on a wide scan).
    OpUtils.parallelismFloor(corpus.select(col(id), col(embCol)))
      .withColumn("codes", pq_codes(col(embCol), books, dsub))
      // DotProduct's contract is (float-array left, double-array right) —
      // the self-product needs an explicit element cast on the right
      .withColumn("norm",
        sqrt(dot_product(col(embCol), col(embCol).cast("array<double>"))))

  /** Per-query ADC lookup table: lut[j][c] = dot(query subvector j,
    * codeword c) — computed once per query row. */
  private def pqQueryLut(queries: DataFrame, books: Array[Array[Array[Double]]],
      dsub: Int, embCol: String, id: String, keepEmb: Boolean = false): DataFrame = {
    val withLut = queryFrame(queries, embCol, id)
      .withColumn("lut", pq_lut(col("q_emb"), books, dsub))
    if (keepEmb) withLut else withLut.drop("q_emb")
  }

  /** ADC score ≈ cosine: (bias + Σ_j lut[j][code_j]) / ||candidate||
    * (query norm is per-query constant, so dropping it leaves rankings
    * intact). `bias` carries the residual form's per-(query, cell)
    * dot(q, centroid) term; None for raw-vector PQ. */
  private def adcSim(m: Int,
      bias: Option[org.apache.spark.sql.Column] = None): org.apache.spark.sql.Column = {
    // one compiled pass over (lut, codes) instead of an m-term
    // element_at chain: the chain re-read the outer lut array with
    // per-element dispatch on every candidate row — the measured hot
    // task of the PQ serving stage (r17 ProfileJobs: 750 ms of a
    // 2.2 s llm42 run in that single stage). Bit-identical fold
    // (ascending j, left-assoc — see ExprHelpers.adcLutSum).
    val lutSum = adc_lut_sum(col("lut"), col("codes"))
    val adc = bias.fold(lutSum)(_ + lutSum)
    when(col("norm") === 0.0, lit(0.0)).otherwise(adc / col("norm"))
  }

  /** ADC shortlist (k·rerank per query) → exact cosine re-rank of the
    * shortlist only. The shortlist is broadcast (queries × k·rerank ids)
    * so the corpus side streams through a broadcast-hash join — no
    * corpus shuffle. */
  private def pqRerank(scored: DataFrame, corpus: DataFrame, queries: DataFrame,
      k: Int, rerank: Int, embCol: String, id: String): DataFrame = {
    // ADC shortlist via the same k-bounded pre-reducing aggregate as
    // topKPerQuery (this window ranked the FULL compressed-domain
    // candidate set — the O(corpus·nProbe) exchange of the PQ path)
    val shortlist = scored.groupBy(col("query_id"))
      .agg(top_k_by_sim(col(id), col("adc_sim"), k * rerank).as("topk"))
      .select(col("query_id"), explode(col("topk.neighbor_id")).as(id))
    exactTopK(broadcast(shortlist)
      .join(corpus.select(col(id), col(embCol)), id)
      .join(broadcast(queryFrame(queries, embCol, id)), "query_id"), k, embCol, id)
  }

  /** Multi-table SRP-LSH top-k — the textbook LSH structure: L
    * independent tables of `planesPerTable` hyperplanes each; a pair
    * collides if it shares a bucket in ANY table, so recall compounds as
    * 1-(1-p^r)^L instead of the single table's p^r. Candidates are the
    * union over tables, deduped per (query, candidate) before scoring.
    * At 100 TB: each table's bucketing is one column; the corpus explodes
    * L rows per vector into the join (L ~ 4-8) — still linear. */
  def lshTopKMulti(corpus: DataFrame, queries: DataFrame, k: Int,
      nTables: Int = 4, planesPerTable: Int = 6,
      embCol: String = "embedding", id: String = "vec_id",
      dim: Int = 64): DataFrame = {
    val all = planes(nTables * planesPerTable, dim)
    def buckets(df: DataFrame): DataFrame = {
      val perTable = (0 until nTables).map { t =>
        val bits = (0 until planesPerTable).map { j =>
          val p = all(t * planesPerTable + j)
          when(dot_product(col(embCol), lit(p)) >= 0, lit(1 << j)).otherwise(lit(0))
        }
        struct(lit(t).as("tbl"), bits.reduce(_ + _).as("b"))
      }
      df.withColumn("tb", explode(array(perTable: _*)))
        .withColumn("tbl", col("tb.tbl")).withColumn("b", col("tb.b")).drop("tb")
    }
    val cb = buckets(corpus.select(col(id), col(embCol)))
    val qb = buckets(queries.select(col(id).as("query_id"), col(embCol)))
      .withColumnRenamed(embCol, "q_emb")
    val cands = cb.join(broadcast(qb), Seq("tbl", "b"))
      .dropDuplicates("query_id", id) // union over tables
    exactTopK(cands, k, embCol, id)
  }
}
