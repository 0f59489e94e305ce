package graft.tools

import org.apache.spark.sql.functions._

/** Scale smoke: run the distributed-global-order / packing / dedup
  * primitives at 10M+ rows (10-100x the sf0.1 bench corpus) and check
  * their algebraic invariants with O(1) driver memory — guards against
  * designs that only work when a corpus fits one partition or the
  * driver. `runMain graft.tools.ScaleSmoke [nBig] [nText] [nVec] [nCdc]
  * [nSem]` (defaults 10M / 1M / 1M / 4M / 200k; nSem must be a
  * multiple of 2000).
  */
object ScaleSmoke {
  def main(args: Array[String]): Unit = {
    val nBig = if (args.nonEmpty) args(0).toLong else 10000000L
    val nText = if (args.length > 1) args(1).toLong else 1000000L
    val spark = graft.GraftSession.build(
      conf = Seq("spark.sql.shuffle.partitions" -> "64"))
    import spark.implicits._

    def timed[T](name: String)(body: => T): T = {
      val t0 = System.nanoTime()
      val r = body
      println(f"SCALE $name: ${(System.nanoTime() - t0) / 1e9}%.1f s")
      r
    }

    // shuffle-write accounting for the string-vs-hash span-key
    // comparison and the maintenance shuffle pins below
    val listener = JobListener.attach(spark.sparkContext)
    import listener.measuredShuffle

    // skewed, shuffled sort keys with ties — the worst case a curriculum
    // sort sees; invariant: positions are exactly the 1..N permutation
    val big = spark.range(nBig)
      .select(col("id"), (col("id") * 2654435761L % 1000L).as("v"))
    timed(s"globalRowNumber($nBig)") {
      val pos = graft.ops.GlobalOrder.globalRowNumber(
        big, Seq(col("v").desc, col("id")), numPartitions = 64)
      val row = pos.agg(
        count(lit(1)).as("n"), min(col("pos")).as("mn"),
        max(col("pos")).as("mx"), sum(col("pos")).as("s")).head()
      assert(row.getLong(0) == nBig && row.getLong(1) == 1L && row.getLong(2) == nBig)
      assert(row.getLong(3) == nBig * (nBig + 1) / 2, "positions must be a 1..N permutation")
    }

    timed(s"packSequences($nBig)") {
      val packed = graft.ops.Packing.packSequences(
        big.withColumnRenamed("id", "doc_id"), "doc_id",
        (col("v") % 100 + 1).cast("long"), capacity = 512L, bucketSize = 65536L)
      val row = packed.agg(
        count(lit(1)).as("n"), max(col("seq_offset")).as("mo"),
        sum(col("n_tokens")).as("toks"),
        max(col("seq_id") * 512L + col("seq_offset") + col("n_tokens")).as("hi")).head()
      assert(row.getLong(0) == nBig && row.getLong(1) < 512L)
      // the last doc's end equals the global token sum (no gaps, no overlap)
      assert(row.getLong(3) == row.getLong(2), "packing must be gap-free")
    }

    timed(s"exactByHash($nBig, 50% dups)") {
      val docs = big.select((col("id") / 2).cast("long").cast("string").as("text"),
        col("id").as("doc_id"))
      val n = graft.ops.Dedup.exactByHash(docs, "text", "doc_id").count()
      assert(n == nBig / 2, s"expected ${nBig / 2} survivors, got $n")
    }

    // incremental near-dup: a 10k batch of exact copies joins a 1M-doc
    // corpus through the corpus's (band, bh) index — corpus×corpus
    // never pairs. Invariant: every planted copy matches its source at
    // jaccard 1 (identical shingle sets ⇒ identical signatures ⇒ same
    // buckets — deterministic, no LSH luck involved). The token modulus
    // (1048573 > nText) keeps corpus docs pairwise DISTINCT — a small
    // vocab would alias ~nText/vocab docs into identical texts, blow
    // every bucket past maxBucket, and (correctly) drop them all.
    timed(s"incrementalNearDup($nText corpus, 10k batch)") {
      def docsFor(ids: org.apache.spark.sql.DataFrame) = ids.select(
        col("doc_id"),
        concat_ws(" ", (0 until 24).map(j =>
          concat(lit("w"), (col("src") * 31L + j) * 2654435761L % 1048573L)): _*).as("text"))
      val corpus = docsFor(spark.range(nText)
        .select(col("id").as("doc_id"), col("id").as("src")))
      val nBatch = 10000L
      // 97 is coprime to nText=1e6, so the 10k sources are distinct
      val batch = docsFor(spark.range(nBatch)
        .select((col("id") * 97L % nText).as("src"))
        .select((col("src") + lit(nText)).as("doc_id"), col("src")))
      val pairs = graft.ops.Dedup.incrementalNearDup(
        corpus, batch, "text", "doc_id", threshold = 0.8)
      val planted = pairs
        .filter(col("id_b") === col("id_a") + lit(nText) && col("jaccard") === 1.0)
        .count()
      assert(planted == nBatch,
        s"expected all $nBatch planted copies matched to their source, got $planted")
    }

    timed(s"minhash signatures($nText)") {
      val docs = spark.range(nText).select(col("id").as("doc_id"),
        concat_ws(" ", (0 until 24).map(j =>
          concat(lit("w"), (col("id") * (j * 31 + 7) % 997L))): _*).as("text"))
      import graft.functions.VectorFunctions.minhash_sig
      val n = docs
        .select(col("doc_id"), minhash_sig(split(col("text"), " "), 16).as("sig"))
        .filter(size(col("sig")) === 16).count()
      assert(n == nText)
    }

    // weighted sampling at 10M rows: k bounds memory (per-partition
    // bounded heaps + a k-row driver merge — TakeOrderedAndProject, no
    // global sort), and the k smallest priorities are exactly the ones
    // kept regardless of partitioning
    timed(s"weightedPrioritySample($nBig, k=100)") {
      val docs = big.select(col("id").as("doc_id"),
        col("id").cast("string").as("text"), (col("v") + 1L).as("w"))
      val sampled = graft.ops.TextAnalysis.weightedPrioritySample(
        docs, "text", "w", "doc_id", k = 100)
      val plan = sampled.queryExecution.executedPlan.toString
      assert(plan.contains("TakeOrderedAndProject"),
        s"global top-k must plan as TakeOrderedAndProject, got:\n$plan")
      val maxKept = sampled.agg(max(col("priority"))).head().getDouble(0)
      val below = docs.withColumn("priority",
          graft.functions.VectorFunctions.mod_poly_hash(col("text")).cast("double")
            / col("w").cast("double"))
        .filter(col("priority") < maxKept).count()
      // a correct sample has at most k-1 rows strictly below its own max
      // (<= 100 would mask an off-by-one that swaps in the 101st row)
      assert(sampled.count() == 100 && below <= 99,
        s"kept set must be the k smallest priorities (found $below strictly below cutoff)")
    }

    // span-level dedup at 1M docs: every 100th doc carries a fixed
    // 12-token boilerplate prefix; all other tokens are unique per
    // (doc, position), so the duplicated-span set is EXACTLY the 5
    // 8-token windows inside the prefix and coverage is exactly 12
    // tokens for planted docs, 0 for the rest — an algebraic invariant,
    // no sampling
    timed(s"spanDupCoverage($nText)") {
      val bp = (0 until 12).map(i => s"bp$i").mkString(" ")
      val docs = spark.range(nText).select(col("id").as("doc_id"),
        concat_ws(" ",
          when(col("id") % 100 === 0, lit(bp))
            .otherwise(concat_ws(" ", (0 until 12).map(j =>
              concat(lit(s"p${j}_"), col("id"))): _*)),
          concat_ws(" ", (12 until 24).map(j =>
            concat(lit(s"u${j}_"), col("id"))): _*)).as("text"))
      val planted = (nText + 99) / 100 // |{id in [0, nText) : id % 100 == 0}|
      val srow = graft.ops.Dedup.duplicatedSpans(docs, "text", "doc_id", w = 8)
        .agg(count(lit(1)).as("n"), min(col("n_docs")).as("mn"),
          max(col("n_docs")).as("mx")).head()
      assert(srow.getLong(0) == 5L && srow.getLong(1) == planted
          && srow.getLong(2) == planted,
        s"expected exactly 5 duplicated spans x $planted docs, got $srow")
      def coverageStats(hashSpans: Boolean) =
        graft.ops.Dedup.spanDupCoverage(docs, "text", "doc_id", w = 8,
            hashSpans = hashSpans)
          .agg(count(when(col("dup_tokens") === 12L, 1)).as("planted"),
            count(when(col("dup_tokens") =!= 0L && col("dup_tokens") =!= 12L, 1))
              .as("stray")).head()
      val (crow, strBytes) = measuredShuffle(coverageStats(hashSpans = false))
      assert(crow.getLong(0) == planted && crow.getLong(1) == 0L,
        s"expected $planted docs at coverage 12 and none elsewhere, got $crow")
      // the 100 TB form: identical result, 128-bit hash keys in both the
      // dup aggregation and the semi-join — shuffle bytes must drop
      val (hrow, hashBytes) = measuredShuffle(timed(s"spanDupCoverage($nText, hashSpans)") {
        coverageStats(hashSpans = true)
      })
      assert(hrow == crow, s"hashSpans result must match string form: $hrow vs $crow")
      println(f"SCALE spanDupCoverage shuffle: string=${strBytes / 1e6}%.1f MB " +
        f"hashed=${hashBytes / 1e6}%.1f MB (${hashBytes.toDouble / strBytes}%.2fx)")
      assert(hashBytes < (strBytes * 8) / 10,
        s"hash-keyed shuffle must undercut the string form: $hashBytes vs $strBytes")
    }

    // exact-substring CUT at 1M docs, same planted corpus: a planted
    // doc must lose EXACTLY its 12-token boilerplate prefix (clean =
    // its 12 unique u-tokens, in order), and every other doc must come
    // back byte-identical to its token re-join — algebraic invariants,
    // full-corpus checked, on the 100 TB hash-keyed form
    timed(s"cutDuplicatedSpans($nText, hashSpans)") {
      val bp = (0 until 12).map(i => s"bp$i").mkString(" ")
      val docs = spark.range(nText).select(col("id").as("doc_id"),
        concat_ws(" ",
          when(col("id") % 100 === 0, lit(bp))
            .otherwise(concat_ws(" ", (0 until 12).map(j =>
              concat(lit(s"p${j}_"), col("id"))): _*)),
          concat_ws(" ", (12 until 24).map(j =>
            concat(lit(s"u${j}_"), col("id"))): _*)).as("text"))
      val planted = (nText + 99) / 100
      val expectedSuffix = concat_ws(" ", (12 until 24).map(j =>
        concat(lit(s"u${j}_"), col("doc_id"))): _*)
      val row = graft.ops.Dedup.cutDuplicatedSpans(docs, "text", "doc_id",
          w = 8, hashSpans = true)
        .join(docs, "doc_id")
        .agg(
          count(when(col("dup_tokens") === 12L &&
            col("clean_text") === expectedSuffix, 1)).as("planted_ok"),
          count(when(col("dup_tokens") === 0L &&
            col("clean_text") === col("text"), 1)).as("untouched_ok"),
          count(lit(1)).as("n")).head()
      assert(row.getLong(0) == planted && row.getLong(1) == nText - planted
          && row.getLong(2) == nText,
        s"cut invariants broke: expected $planted cut-to-suffix + " +
          s"${nText - planted} untouched of $nText, got $row")
    }

    // bigram LM scoring at 1M docs: every doc = shared head token "h"
    // then 12 per-doc-unique tokens, so every doc's score is EXACTLY
    // (1/n + 11)/12 — the head bigram has P = 1/n (c1(h) = n), every
    // other bigram is unique (P = 1). One distinct double across the
    // corpus, computed with the same position-ordered fold driver-side
    timed(s"bigramLmScore($nText)") {
      val docs = spark.range(nText).select(col("id").as("doc_id"),
        concat_ws(" ", lit("h") +: (0 until 12).map(j =>
          concat(lit(s"u${j}_"), col("id"))): _*).as("text"))
      val out = graft.ops.TextAnalysis.bigramLmScore(docs, "text", "doc_id")
      val row = out.agg(count(lit(1)).as("n"),
        countDistinct(col("lm_score")).as("nd"),
        min(col("lm_score")).as("mn"),
        min(col("n_bigrams")).as("nb_mn"), max(col("n_bigrams")).as("nb_mx")).head()
      var expect = 1.0 / nText.toDouble
      (0 until 11).foreach(_ => expect += 1.0)
      expect /= 12.0
      assert(row.getLong(0) == nText && row.getLong(1) == 1L
          && row.getDouble(2) == expect
          && row.getLong(3) == 12L && row.getLong(4) == 12L,
        s"every doc must score exactly (1/n + 11)/12 = $expect, got $row")
    }

    // semantic dedup at 200k vectors / 1000 Voronoi cells: every 100th
    // second-half vector is an exact copy of its first-half source —
    // identical vectors always land in the same cell (identical argmax),
    // so every planted copy MUST be flagged regardless of where the
    // quantizer boundaries fall
    val nSem = if (args.length > 4) args(4).toLong else 200000L
    require(nSem >= 2000 && nSem % 2000 == 0,
      s"nSem must be a positive multiple of 2000 (half on the 100-grid, " +
        s"seed modulus nSem/1000 > 0), got $nSem")
    timed(s"semDedup($nSem)") {
      val half = nSem / 2
      // xxhash64(base, j) mixing: a multiplicative generator linear in j
      // makes every vector an arithmetic progression mod M — wildly
      // correlated pairs that flag most of the corpus. Real hash mixing
      // keeps distinct bases independent.
      val emb = spark.range(nSem).select(col("id").as("vec_id"),
        expr(s"""transform(sequence(0, 15), j -> CAST(
          pmod(xxhash64(CASE WHEN id >= ${half}L AND id % 100 = 0
            THEN id - ${half}L ELSE id END, j), 1000003) / 1000003.0 - 0.5 AS FLOAT))""").as("embedding"))
      // k = 1000 seeds: the paper's k ~ √n regime where assignment cost
      // dominates — run BOTH assignment forms (n×k crossJoin+agg vs the
      // narrow per-row argmax) and require identical results; the probe
      // form's time is the one that matters at 100 TB
      def semOnce(probe: Boolean) = {
        val out = graft.ops.Dedup.semDedup(emb, "embedding", "vec_id",
          seeds = emb.filter(col("vec_id") % (nSem / 1000) === 0),
          seedId = "vec_id", seedEmb = "embedding", threshold = 0.999,
          probeAssign = probe)
        out.agg(
          count(when(col("vec_id") >= half && col("vec_id") % 100 === 0
            && col("is_dup"), 1)).as("flagged"),
          count(when(col("is_dup"), 1)).as("total"),
          count(lit(1)).as("n")).head()
      }
      val plantedSem = half / 100
      val row = semOnce(probe = false)
      assert(row.getLong(2) == nSem, s"semDedup must emit every vector, got ${row.getLong(2)}")
      assert(row.getLong(0) == plantedSem,
        s"expected all $plantedSem planted copies flagged, got ${row.getLong(0)}")
      val prow = timed(s"semDedup($nSem, probeAssign k=1000)") {
        semOnce(probe = true)
      }
      assert(prow == row, s"probeAssign result must match join form: $prow vs $row")
      println(f"SCALE semDedup: ${row.getLong(1)} flagged of $nSem (planted $plantedSem)")
    }

    // the PERSISTED semantic-dedup index probe (buildSemDedupIndex →
    // semDedupFromIndex) at 1M vectors / k=1000: the serving claim is
    // that a probe touches ONLY its batch's cells — pinned two ways:
    //   - file count: the planned members scan must select exactly the
    //     batch's c cell partitions (and c files: the build lays one
    //     file per cell), never the corpus's 1000;
    //   - wall-time: 10× corpus growth must not cost 10× probe time —
    //     probe cost tracks touched-cell bytes (c/k of the corpus),
    //     plus constant batch assignment, so the ratio stays far under
    //     the corpus ratio.
    timed(s"semDedupFromIndex probe scaling") {
      val nProbe = if (args.length > 2) args(2).toLong else 1000000L
      def embExpr = "transform(sequence(0, 15), j -> CAST(" +
        "pmod(xxhash64(id, j), 1000003) / 1000003.0 - 0.5 AS FLOAT))"
      def probeAt(n: Long): Double = {
        val root = java.nio.file.Files
          .createTempDirectory(s"smoke-semidx-$n").toString
        val corpus = spark.range(n).select(col("id").as("vec_id"),
          expr(embExpr).as("embedding"))
        graft.ops.Dedup.buildSemDedupIndex(corpus, root, "embedding",
          "vec_id", seeds = corpus.filter(col("vec_id") % (n / 1000) === 0),
          seedId = "vec_id", seedEmb = "embedding", probeAssign = true)
        val batch = spark.range(n, n + 50).select(col("id").as("vec_id"),
          expr(embExpr).as("embedding"))
        val t0 = System.nanoTime()
        val out = graft.ops.Dedup.semDedupFromIndex(spark, root, batch,
          "embedding", "vec_id", threshold = 0.999, probeAssign = true)
        val cells = out.select(col("cluster_id")).distinct().count()
        require(out.count() == 50, "probe must emit every batch row")
        val dt = (System.nanoTime() - t0) / 1e9
        val memberScans = org.apache.spark.sql.graftbridge.Bridge
          .fileScanSelections(out).filter(_._1.contains("members"))
        assert(memberScans.nonEmpty, "no members scan in the probe plan")
        memberScans.foreach { case (p, parts, files) =>
          assert(parts == cells && files == cells,
            s"probe scan $p selected $parts partitions / $files files " +
              s"for $cells touched cells (of 1000) — pruning broken")
        }
        println(f"SCALE semDedupFromIndex($n): probe $dt%.1f s, " +
          s"$cells cells touched, files == cells")
        graft.TmpDirs.deleteRecursively(new java.io.File(root))
        dt
      }
      val tSmall = probeAt(nProbe / 10)
      val tBig = probeAt(nProbe)
      assert(tBig < 6.0 * math.max(tSmall, 1.0),
        f"probe time grew ${tBig / tSmall}%.1fx on a 10x corpus — " +
          "cell pruning is not holding")
    }

    // the semDedup index APPEND at 1M vectors / k=1000: the growth
    // claim is that an append WRITES only its batch's touched cells —
    // every other cell directory stays byte-identical (the cluster
    // index's untouched-bucket pin, applied here) — and that append
    // wall-time does not track corpus size (verdict probe reads c
    // touched cells; the global identity guard is a column-pruned id
    // scan whose cost is file-count-bound, constant at fixed k).
    timed(s"appendToSemDedupIndex scaling") {
      val nApp = if (args.length > 2) args(2).toLong else 1000000L
      def embExpr = "transform(sequence(0, 15), j -> CAST(" +
        "pmod(xxhash64(id, j), 1000003) / 1000003.0 - 0.5 AS FLOAT))"
      def appendAt(n: Long): Double = {
        val root = java.nio.file.Files
          .createTempDirectory(s"smoke-semapp-$n").toString
        val corpus = spark.range(n).select(col("id").as("vec_id"),
          expr(embExpr).as("embedding"))
        graft.ops.Dedup.buildSemDedupIndex(corpus, root, "embedding",
          "vec_id", seeds = corpus.filter(col("vec_id") % (n / 1000) === 0),
          seedId = "vec_id", seedEmb = "embedding", probeAssign = true)
        def cellState() = graft.ops.IndexLog.snapshot(spark, root)
          .table("members").files.groupBy(_.cell.get)
          .map { case (c, fs) => c -> fs.map(f => (f.path, f.size)).toSet }
        // median-of-3 timed appends (disjoint fresh batches — each
        // appends new ids, so per-rep cost is flat): the STRUCTURAL pin
        // (changed dirs == touched cells) asserted per rep is the real
        // scale gate; the wall-clock ratio below is secondary and
        // load/JIT-sensitive, so it gets the noise treatment
        val dts = (0 until 3).map { rep =>
          val lo = n + rep * 50
          val before = cellState()
          val batch = spark.range(lo, lo + 50).select(col("id").as("vec_id"),
            expr(embExpr).as("embedding"))
          val t0 = System.nanoTime()
          val out = graft.ops.Dedup.appendToSemDedupIndex(spark, root, batch,
            "embedding", "vec_id", threshold = 0.999, probeAssign = true)
          val cells = out.select(col("cluster_id")).distinct().count()
          require(out.count() == 50, "append must emit every batch verdict")
          val dt = (System.nanoTime() - t0) / 1e9
          val after = cellState()
          val changed = (before.keySet ++ after.keySet)
            .count(c => before.get(c) != after.get(c))
          assert(changed == cells,
            s"append changed $changed cells' files for $cells touched cells " +
              "(of 1000) — writes are not cell-local")
          println(f"SCALE appendToSemDedupIndex($n) rep$rep: " +
            f"append $dt%.1f s, $cells cells touched, $changed cells changed")
          dt
        }
        graft.TmpDirs.deleteRecursively(new java.io.File(root))
        dts.sorted.apply(1) // median of 3
      }
      val tSmall = appendAt(nApp / 10)
      val tBig = appendAt(nApp)
      // wide band on purpose: the BINDING scale gate is the structural
      // pin above (O(touched cells) writes at any corpus size); the
      // median-of-3 timing ratio only back-stops a gross corpus-linear
      // regression, without flaking on a busy host's warmup wobble
      assert(tBig < 8.0 * math.max(tSmall, 1.0),
        f"median append time grew ${tBig / tSmall}%.1fx on a 10x corpus — " +
          "append cost is tracking corpus size")
    }

    // the composed ANN index at 1M vectors: IVF cells prune + PQ codes
    // score compressed + exact re-rank — recall vs brute-force ground
    // truth must clear the spec bound at this scale, not just at the
    // 2k-vector spec corpus. Synthetic corpus: 10,000 planted clusters (~100 vectors each)
    // (centers from an integer hash) + per-vector noise, so the coarse
    // quantizer has real structure to find.
    val nVec = if (args.length > 2) args(2).toLong else 1000000L
    require(nVec >= 20, s"nVec (args(2)) must be >= 20, got $nVec — " +
      "the query stride nVec/20 degenerates to mod-zero below that")
    timed(s"ivfPqTopK($nVec, k=10)") {
      val emb = spark.range(nVec).select(col("id").as("vec_id"),
        expr("""transform(sequence(0, 63), j -> CAST(
          (pmod((id % 10000 + 1) * (j * 31 + 7) * 2654435761, 1000003) / 1000003.0 - 0.5) * 2.0
          + (pmod((id + 1) * (j * 53 + 11) * 1103515245, 997) / 997.0 - 0.5) * 0.2
          AS FLOAT))""").as("embedding"))
      val queries = emb.filter(col("vec_id") % (nVec / 20) === 0)
      val exact = graft.ops.Similarity.bruteForceTopK(emb, queries, k = 10)
        .select(col("query_id"), col("neighbor_id"))
      // rerank scales with the corpus: a 160-row shortlist is 0.016% of
      // 1M — the knob a production index turns as cells grow (the spec
      // corpus uses the default 4·k)
      val got = graft.ops.Similarity.ivfPqTopK(emb, queries, k = 10,
        kClusters = 64, nProbe = 8, m = 8, ksub = 16, rerank = 16)
        .select(col("query_id"), col("neighbor_id"))
      val hits = got.join(exact, Seq("query_id", "neighbor_id")).count()
      val total = exact.count()
      val recall = hits.toDouble / total
      println(f"SCALE ivfPq recall@10 over $total%d: $recall%.3f")
      assert(recall >= 0.4,
        f"IVF-PQ recall@10 at 1M must clear the spec bound 0.4, got $recall%.3f")
    }

    // connected components on an adversarial 10k-node chain: diameter
    // 9,999, so min-label propagation would need ~10k rounds (it fails
    // its cap by design — DedupPropertySpec pins that); the large-star/
    // small-star alternation must finish in O(log d) rounds. This is
    // the generic-graph insurance path behind connectedComponents'
    // largeStar flag — near-dup clusters never need it, arbitrary
    // graphs do.
    timed("ccStars(10k chain)") {
      val chain = spark.range(9999L)
        .select(col("id").as("src"), (col("id") + 1L).as("dst"))
      val (labels, iters) = graft.ops.Dedup.connectedComponentsStars(
        chain, "src", "dst", maxIters = 60)
      val row = labels.agg(count(lit(1)).as("n"),
        sum(col("label")).as("s"), max(col("id")).as("mx")).head()
      assert(row.getLong(0) == 10000L && row.getLong(1) == 0L
          && row.getLong(2) == 9999L,
        s"every chain node must label to node 0: $row")
      println(s"SCALE ccStars: 10k-chain (diameter 9999) converged in " +
        s"$iters rounds")
      assert(iters <= 20, s"star contraction must stay O(log d): $iters rounds")
    }

    // repetition signals at 1M docs: every doc starts "r r r" then 9
    // per-doc-unique tokens, so EVERY doc's top-bigram share is exactly
    // 2/11 ("r r" twice of 11 bigrams) and its dup-5-gram share is 0
    // (each 5-gram contains a unique token); every 10th doc is "r"x12
    // (top2 = 1, dup5 = 1). Two exact doubles corpus-wide — the narrow
    // run-length fold demonstrated at scale with zero shuffles.
    timed(s"repetitionSignals($nText)") {
      val docs = spark.range(nText).select(col("id").as("doc_id"),
        when(col("id") % 10 === 0,
          concat_ws(" ", (0 until 12).map(_ => lit("r")): _*))
          .otherwise(concat_ws(" ",
            lit("r") +: lit("r") +: lit("r") +: (0 until 9).map(j =>
              concat(lit(s"u${j}_"), col("id"))): _*)).as("text"))
      val out = graft.ops.TextAnalysis.repetitionSignals(docs)
      val planted = (nText + 9) / 10
      val row = out.agg(count(lit(1)).as("n"),
        count(when(col("top2_frac") === 1.0 && col("dup5_frac") === 1.0, 1)).as("rep"),
        count(when(col("top2_frac") === 2.0 / 11.0 && col("dup5_frac") === 0.0, 1)).as("nat"),
        countDistinct(col("top2_frac")).as("nd")).head()
      assert(row.getLong(0) == nText && row.getLong(1) == planted
          && row.getLong(2) == nText - planted && row.getLong(3) == 2L,
        s"every doc must score exactly 2/11 or 1: $row")
    }

    // star contraction vs min-label on a NEAR-DUP-SHAPED graph at 10x
    // the sf0.1 documents corpus (~600k nodes): mostly 3-node clusters
    // (the shape real near-dup graphs have) plus 300 32-node chains
    // (the adversarial tail that makes diameter-bound propagation pay).
    // Pins BOTH the round count and the wall time, so the largeStar
    // default's win is measured, not assumed.
    timed("ccDefaultVsMinLabel(600k near-dup graph)") {
      val nTriples = 197120L // ids [0, 591360) in clusters of 3
      val chainLen = 32L
      val nChains = 300L
      val chainBase = nTriples * 3
      val triples = spark.range(nTriples * 3)
        .filter(col("id") % 3 =!= 0)
        .select(col("id").as("src"), (col("id") - col("id") % 3).as("dst"))
      val chains = spark.range(nChains * chainLen)
        .filter(col("id") % chainLen =!= chainLen - 1)
        .select((col("id") + chainBase).as("src"),
          (col("id") + chainBase + 1).as("dst"))
      val edges = triples.union(chains).localCheckpoint(true)
      def labelErrors(labels: org.apache.spark.sql.DataFrame): Long =
        labels.filter(
          when(col("id") < chainBase, col("label") =!= (col("id") - col("id") % 3))
            .otherwise(col("label") =!=
              (col("id") - chainBase - (col("id") - chainBase) % chainLen + chainBase)))
          .count()
      def run(largeStar: Boolean): (Int, Double) = {
        val t0 = System.nanoTime()
        val (labels, iters) =
          if (largeStar) graft.ops.Dedup.connectedComponentsStars(
            edges, "src", "dst", maxIters = 60)
          else graft.ops.Dedup.connectedComponentsMinLabel(
            edges, "src", "dst", maxIters = 60)
        val bad = labelErrors(labels)
        val dt = (System.nanoTime() - t0) / 1e9
        assert(bad == 0L, s"largeStar=$largeStar: $bad mislabeled nodes")
        (iters, dt)
      }
      val (starIters, starSecs) = run(largeStar = true)
      val (mlIters, mlSecs) = run(largeStar = false)
      println(f"SCALE ccDefault: largeStar $starIters rounds $starSecs%.1f s " +
        f"vs min-label $mlIters rounds $mlSecs%.1f s " +
        f"(${mlSecs / starSecs}%.1fx) on 600k nodes, chain diameter ${chainLen - 1}")
      assert(starIters <= 12, s"star contraction must stay O(log d): $starIters rounds")
      assert(mlIters >= chainLen.toInt - 5,
        s"min-label must pay ~diameter rounds here, got $mlIters (bad graph shape?)")
      // wall-clock comparison is a printed diagnostic only: a single
      // sample under the documented 1.4-2x host wobble would flake and
      // abort the rest of the sweep; the iteration-count asserts above
      // already pin the algorithmic claim (O(log d) vs O(diameter))
      if (starSecs > mlSecs)
        println(f"SCALE ccDefault NOTE: largeStar slower this sample " +
          f"($starSecs%.1f s vs $mlSecs%.1f s) — single-run wall-clock, " +
          f"iteration counts above carry the claim")
    }

    // The llm24/llm66/llm68 PIPELINE (exact-jaccard prefix-filter
    // candidates -> star-contraction CC with per-round checkpoints) at
    // 1x and 10x the sf0.1 documents corpus (5k docs): pins the ROUND
    // COUNT so a diameter blowup or a broken convergence test surfaces
    // as a number instead of a timeout, and records wall per scale.
    // Corpus mirrors a crawl's near-dup shape: triples (each member
    // differs in the final token — exact shingle-jaccard 21/23 >= 0.8)
    // plus 100 32-doc sliding-window chains (consecutive docs share 23
    // of 24 tokens; j~j+1 and j~j+2 edges, diameter ~16 — the
    // adversarial tail star contraction exists for).
    val nChainDocs = 3200L // 100 chains x 32
    // triples (each member differs in the final token — exact
    // shingle-jaccard 21/23 >= 0.8) plus 32-doc sliding-window chains
    // (consecutive docs share 23 of 24 tokens; j~j+1 AND j~j+2 edges,
    // so splitting a chain takes TWO adjacent removals). NOTE the
    // round-13 fix: Column `/` is DOUBLE division, so the original
    // `col("id") / 32L` chain tag made every chain doc's tokens unique
    // (c0.03125_*) — chains were shingle-disjoint, formed no edges,
    // and the ccPipeline label assert was vacuous for them (labels
    // only cover edge endpoints). `div` restores integer chain tags;
    // the labels.count() assert below makes vacuity impossible now.
    def ccCorpus(nDocs: Long): (org.apache.spark.sql.DataFrame, Long) = {
      val nTriple = (nDocs - nChainDocs) / 3 * 3
      val triples = spark.range(nTriple).select(col("id").as("doc_id"),
        concat_ws(" ",
          (0 until 23).map(j => concat(lit("w"),
            ((col("id") - col("id") % 3) * 31L + j) * 2654435761L % 1048573L))
          :+ when(col("id") % 3 === 0, lit("base"))
              .otherwise(concat(lit("m"), col("id") % 3)): _*).as("text"))
      val chains = spark.range(nChainDocs)
        .select((col("id") + nTriple).as("doc_id"),
          concat_ws(" ", (0 until 24).map(j =>
            concat(lit("c"), expr("id div 32"), lit("_"),
              col("id") % 32L + j)): _*).as("text"))
      (triples.union(chains), nTriple)
    }
    timed("ccPipeline(1x vs 10x sf0.1 documents)") {
      def run(nDocs: Long): (Int, Double) = {
        val (docs, nTriple) = ccCorpus(nDocs)
        val t0 = System.nanoTime()
        val edges = graft.ops.Dedup.jaccardSelfJoinExact(
          docs, "text", "doc_id", 0.8, 3)
        val (labels, iters) = graft.ops.Dedup.connectedComponentsStars(
          edges, "id_a", "id_b", maxIters = 60)
        // every doc participates in an edge in this corpus, so every
        // doc must carry a label row — a silent edge loss (the vacuity
        // the round-13 fix closed) now fails here instead of passing
        val nLabeled = labels.count()
        val bad = labels.filter(
          when(col("id") < nTriple, col("label") =!= col("id") - col("id") % 3)
            .otherwise(col("label") =!=
              (col("id") - (col("id") - nTriple) % 32L))).count()
        val dt = (System.nanoTime() - t0) / 1e9
        assert(nLabeled == nDocs,
          s"ccPipeline($nDocs): only $nLabeled of $nDocs docs labeled — edges lost")
        assert(bad == 0L, s"ccPipeline($nDocs): $bad mislabeled docs")
        (iters, dt)
      }
      val (itersBase, wallBase) = run(5000L)
      val (iters10x, wall10x) = run(50000L)
      println(f"SCALE ccPipeline: 1x (5k docs) $itersBase rounds " +
        f"$wallBase%.1f s; 10x (50k docs) $iters10x rounds $wall10x%.1f s")
      // the regression pin: 10x must not add more than one contraction
      // round over 1x (same cluster shape, same diameter — rounds are a
      // property of structure, not size; a blowup means a convergence
      // or checkpoint regression)
      assert(iters10x <= itersBase + 1,
        s"ccPipeline rounds grew past 1x+1 at 10x: $itersBase -> $iters10x")
      assert(iters10x <= 15,
        s"star contraction must stay O(log d): $iters10x rounds")
    }

    // Containment self-join at 200k docs: hash-derived token streams
    // keep non-planted docs shingle-disjoint, so the candidate count
    // tracks the PLANTED pair count (every 100th doc is a 10-token
    // slice of its successor: containment 1.0, jaccard ~8/28 — the
    // asymmetric dup Jaccard misses). Invariant: exactly the planted
    // pairs, found in one prefix-probe pass.
    timed("containmentSelfJoin(200k docs)") {
      val nCont = 200000L
      def tok(docCol: org.apache.spark.sql.Column, j: Int) =
        concat(lit("w"), (docCol * 31L + j) * 2654435761L % 1073741789L)
      val base = spark.range(nCont).filter(col("id") % 100 =!= 0)
        .select(col("id").as("doc_id"),
          concat_ws(" ", (0 until 30).map(j => tok(col("id"), j)): _*).as("text"))
      val planted = spark.range(nCont).filter(col("id") % 100 === 0)
        .select(col("id").as("doc_id"),
          concat_ws(" ", (10 until 20).map(j => tok(col("id") + 1, j)): _*).as("text"))
      val pairs = graft.ops.Dedup.containmentSelfJoinExact(
        base.union(planted), "text", "doc_id", threshold = 0.8)
      val n = pairs.filter(col("contained_id") % 100 === 0 &&
        col("container_id") === col("contained_id") + 1 &&
        col("containment") === 1.0).count()
      val total = pairs.count()
      assert(n == nCont / 100 && total == n,
        s"expected exactly ${nCont / 100} planted containments, " +
          s"got $n planted / $total total")
    }

    // Cluster-index DELETE at 1x vs 10x corpus: the O(affected) claim
    // as a measured number — the same 60-doc delete (50 triple members
    // + the TWO adjacent mid-chain docs of 5 chains; chain edges span
    // j~j+1 and j~j+2, so a split takes two adjacent removals) must
    // not shuffle ~10x more bytes when the corpus grows 10x. Corpus-
    // linear work in the delete is confined to column-pruned id/label
    // scans (no shuffle), so shuffle bytes track affected clusters.
    // Wall time prints as a diagnostic (single-sample wobble policy);
    // the shuffle-byte ratio carries the assert, with 3x slack for
    // partition-count constants.
    timed("clusterIndexDelete(1x vs 10x)") {
      def run(nDocs: Long): (Long, Double) = {
        val (docs, nTriple) = ccCorpus(nDocs)
        val idx = java.nio.file.Files.createTempDirectory(
          s"clidx-scale-$nDocs").toString
        graft.ops.Dedup.buildClusterIndex(docs, idx, threshold = 0.8,
          nBuckets = 64)
        // 50 triple members (m1 variants) + positions 16 and 17 of 5
        // chains (each pair split leaves [0..15] and [18..31] — 15 vs
        // 18 share only 20 of 24 tokens, below the 0.8 bar)
        val delIds = spark.range(50).select((col("id") * 3L + 1L).as("doc_id"))
          .union(spark.range(5).select(
            (col("id") * 32L + 16L + nTriple).as("doc_id")))
          .union(spark.range(5).select(
            (col("id") * 32L + 17L + nTriple).as("doc_id")))
        val t0 = System.nanoTime()
        val (_, bytes) = measuredShuffle {
          graft.ops.Dedup.deleteFromClusterIndex(spark, idx, delIds)
        }
        val dt = (System.nanoTime() - t0) / 1e9
        // split correctness at scale: chain 0 now has exactly two labels
        val labels = graft.ops.IndexLog.snapshot(spark, idx).frame("verdicts")
          .filter(col("doc_id") >= nTriple && col("doc_id") < nTriple + 32L)
          .select(col("canon_id")).distinct().count()
        assert(labels == 2L, s"bridge delete must split chain 0 in two, " +
          s"got $labels labels")
        graft.TmpDirs.deleteRecursively(new java.io.File(idx))
        (bytes, dt)
      }
      val (bytes1x, wall1x) = run(5000L)
      val (bytes10x, wall10x) = run(50000L)
      println(f"SCALE clusterIndexDelete: 1x ${bytes1x / 1024}%d KiB " +
        f"shuffled $wall1x%.1f s; 10x ${bytes10x / 1024}%d KiB $wall10x%.1f s " +
        f"(bytes ratio ${bytes10x.toDouble / math.max(bytes1x, 1L)}%.2fx)")
      assert(bytes10x <= 3L * math.max(bytes1x, 1L << 20),
        s"delete shuffle bytes grew with the corpus: $bytes1x -> $bytes10x " +
          "(O(affected) regression — corpus-linear work must stay in " +
          "column-pruned scans)")
    }

    // Artifact COMPACTION at 1x vs 10x corpus: compaction is corpus-
    // LINEAR by design (one resolve-and-copy per artifact dir), so its
    // shuffle bytes must grow ~10x with a 10x corpus — and definitively
    // not ~100x (a quadratic pairing path sneaking in) nor stay flat
    // (silently compacting nothing). The hygiene-report counts pin
    // exactness at both scales: 50 churned docs (delete -> re-append)
    // leave exactly 50 shadowed build rows, and compaction leaves
    // exactly one live row per doc.
    timed("clusterIndexCompact(1x vs 10x)") {
      def run(nDocs: Long): (Long, Double) = {
        val (docs, _) = ccCorpus(nDocs)
        val idx = java.nio.file.Files.createTempDirectory(
          s"clidx-compact-$nDocs").toString
        graft.ops.Dedup.buildClusterIndex(docs, idx, threshold = 0.8,
          nBuckets = 64)
        val churn = spark.range(50).select((col("id") * 3L + 1L).as("doc_id"))
        graft.ops.Dedup.deleteFromClusterIndex(spark, idx, churn)
        graft.ops.Dedup.appendToClusterIndex(spark, idx,
          docs.join(churn, Seq("doc_id"), "left_semi"))
        def shingleKinds(): Map[String, Long] =
          graft.ops.Dedup.clusterIndexArtifactReport(spark, idx)
            .filter(col("dir") === "shingles")
            .collect().map(r => r.getString(1) -> r.getLong(2)).toMap
        assert(shingleKinds() == Map("live_current" -> nDocs,
          "shadowed" -> 50L, "dead" -> 0L, "orphan" -> 0L),
          s"pre-compaction hygiene at $nDocs docs: ${shingleKinds()}")
        val t0 = System.nanoTime()
        val (_, bytes) = measuredShuffle {
          graft.ops.Dedup.compactClusterIndexArtifacts(spark, idx)
        }
        val dt = (System.nanoTime() - t0) / 1e9
        assert(shingleKinds() == Map("live_current" -> nDocs,
          "shadowed" -> 0L, "dead" -> 0L, "orphan" -> 0L),
          s"post-compaction hygiene at $nDocs docs: ${shingleKinds()}")
        graft.TmpDirs.deleteRecursively(new java.io.File(idx))
        (bytes, dt)
      }
      val (bytes1x, wall1x) = run(5000L)
      val (bytes10x, wall10x) = run(50000L)
      println(f"SCALE clusterIndexCompact: 1x ${bytes1x / 1024}%d KiB " +
        f"shuffled $wall1x%.1f s; 10x ${bytes10x / 1024}%d KiB $wall10x%.1f s " +
        f"(bytes ratio ${bytes10x.toDouble / math.max(bytes1x, 1L)}%.2fx)")
      assert(bytes10x <= 20L * math.max(bytes1x, 1L << 20),
        s"compaction shuffle bytes grew superlinearly: $bytes1x -> $bytes10x " +
          "(a pairing/quadratic path entered the resolve-and-copy)")
    }

    // CDC decode throughput: a synthetic 8-file log scanned end-to-end
    // through the DSv2 source with full row decode (sum(id) defeats the
    // sidecar aggregate pushdown on purpose — this measures the decoder,
    // not the metadata path). The single-node MB/s here is the number
    // comparable to the reference's one-thread Volcano scan; files are
    // the unit of parallelism.
    val nCdc = if (args.length > 3) args(3).toLong else 4000000L
    timed(s"cdcDecodeScan($nCdc)") {
      import org.apache.spark.sql.types._
      val dir = java.nio.file.Files.createTempDirectory("cdc-scale").toString
      val schema = StructType(Seq(StructField("id", LongType),
        StructField("v", DoubleType), StructField("s", StringType)))
      val nFiles = 8
      val perFile = nCdc / nFiles
      val gen = timed(s"cdcLogGen($nCdc)") {
        var id = 0L
        (0 until nFiles).foreach { fi =>
          val w = new graft.cdc.CdcCodec.LogWriter(f"$dir/b.$fi%06d")
          try {
            w.tableMap(0L, 1L, "db", "big", schema)
            var written = 0L
            val batch = new Array[Array[Any]](100)
            while (written < perFile) {
              val n = math.min(100L, perFile - written).toInt
              var j = 0
              while (j < n) {
                batch(j) = Array[Any](id, id * 0.5, s"r$id"); id += 1; j += 1
              }
              w.gtid(id, id / 100)
              w.writeRows(id, 1L, schema, batch.take(n).toSeq)
              written += n
            }
          } finally w.close()
        }
        java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, "binlog.index"),
          (0 until nFiles).map(fi => f"b.$fi%06d").mkString("", "\n", "\n"))
        (0 until nFiles).map(fi => new java.io.File(f"$dir/b.$fi%06d").length()).sum
      }
      val df = spark.read.format("binlogcdc")
        .option("indexFile", s"$dir/binlog.index")
        .option("database", "db").option("table", "big").load()
      val t0 = System.nanoTime()
      val row = df.agg(sum(col("id")).as("s"), count(lit(1)).as("n")).head()
      val secs = (System.nanoTime() - t0) / 1e9
      val total = nFiles * perFile
      assert(row.getLong(1) == total, s"decoded ${row.getLong(1)} of $total rows")
      assert(row.getLong(0) == total * (total - 1) / 2, "decoded ids must sum exactly")
      println(f"SCALE cdcDecode: ${total / secs / 1e6}%.2f Mrows/s, ${gen / secs / 1e6}%.0f MB/s over $nFiles files")
      graft.TmpDirs.deleteRecursively(new java.io.File(dir))
    }

    // multi-table fan-out at scale: a 3-table interleaved log where the
    // per-table path pays THREE full decode passes and the fan-out pays
    // ONE (pinned on the walk counter — the wall comparison is printed;
    // at 100 TB the 3x-vs-1x log I/O is the contract, the small-scale
    // wall includes the fan-out's parquet writes)
    timed(s"cdcFanout($nCdc)") {
      import org.apache.spark.sql.types._
      val dir = java.nio.file.Files.createTempDirectory("cdcfan-scale").toString
      val schema = StructType(Seq(StructField("id", LongType),
        StructField("v", DoubleType), StructField("s", StringType)))
      val nFiles = 8
      val nRows = nCdc / 2
      val perFile = nRows / nFiles
      val tables = Seq("t0", "t1", "t2")
      var id = 0L
      (0 until nFiles).foreach { fi =>
        val w = new graft.cdc.CdcCodec.LogWriter(f"$dir/b.$fi%06d")
        try {
          tables.zipWithIndex.foreach { case (t, ti) =>
            w.tableMap(0L, ti + 1L, "db", t, schema)
          }
          var written = 0L
          while (written < perFile) {
            val n = math.min(300L, perFile - written).toInt
            w.gtid(id, id / 300)
            // round-robin rows across the three tables, batched per table
            (0 until 3).foreach { ti =>
              val rows = (0 until n).filter(_ % 3 == ti)
                .map(j => Array[Any](id + j, (id + j) * 0.5, s"r${id + j}"))
              if (rows.nonEmpty) w.writeRows(id, ti + 1L, schema, rows)
            }
            id += n; written += n
          }
        } finally w.close()
      }
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(dir, "binlog.index"),
        (0 until nFiles).map(fi => f"b.$fi%06d").mkString("", "\n", "\n"))
      def scanSum(t: String): (Long, Long) = {
        val r = spark.read.format("binlogcdc")
          .option("indexFile", s"$dir/binlog.index")
          .option("database", "db").option("table", t).load()
          .agg(sum(col("id")), count(lit(1))).head()
        (r.getLong(0), r.getLong(1))
      }
      val tScans0 = System.nanoTime()
      val scanSums = tables.map(scanSum)
      val tScans = (System.nanoTime() - tScans0) / 1e9
      val total = nFiles * perFile
      assert(scanSums.map(_._2).sum == total &&
        scanSums.map(_._1).sum == total * (total - 1) / 2,
        s"per-table scans decoded ${scanSums.map(_._2).sum} of $total")
      val before = graft.sources.CdcFanout.filesDecoded.get()
      val out = java.nio.file.Files.createTempDirectory("cdcfan-out").toString
      val tFan0 = System.nanoTime()
      val frames = graft.sources.CdcFanout.materializeTables(spark,
        s"$dir/binlog.index", tables.map(("db", _)), out)
      val fanSums = tables.map { t =>
        val r = frames(("db", t))
          .agg(sum(col("id")), count(lit(1))).head()
        (r.getLong(0), r.getLong(1))
      }
      val tFan = (System.nanoTime() - tFan0) / 1e9
      val walked = graft.sources.CdcFanout.filesDecoded.get() - before
      assert(walked == nFiles,
        s"fan-out walked $walked files for 3 tables — expected ONE pass ($nFiles)")
      assert(fanSums == scanSums, s"fan-out sums diverge: $fanSums vs $scanSums")
      println(f"SCALE cdcFanout: 3 per-table scans $tScans%.1f s " +
        f"(3x$nFiles walks) vs one-pass fan-out $tFan%.1f s " +
        f"($nFiles walks incl. frame writes) over $total rows")
      Seq(dir, out).foreach(d =>
        graft.TmpDirs.deleteRecursively(new java.io.File(d)))
    }

    // the same decode-throughput measurement over the REAL MySQL binlog
    // v4 format (CRC32-checksummed): the number comparable to the
    // reference's own binlog walk, and the round-over-round guard that
    // the pure-JVM v4 decoder keeps pace with the GCDC path (same
    // row count + id-sum invariants; the CRC of every event verifies
    // on the way through)
    timed(s"mysqlDecodeScan($nCdc)") {
      import org.apache.spark.sql.types._
      val dir = java.nio.file.Files.createTempDirectory("mysql-scale").toString
      val schema = StructType(Seq(StructField("id", LongType),
        StructField("v", DoubleType), StructField("s", StringType)))
      val nFiles = 8
      val perFile = nCdc / nFiles
      val sid = "11111111-1111-1111-1111-111111111111"
      val gen = timed(s"mysqlLogGen($nCdc)") {
        var id = 0L
        (0 until nFiles).foreach { fi =>
          val w = new graft.cdc.MysqlBinlog.Writer(f"$dir/mysql-bin.$fi%06d",
            checksum = true)
          try {
            w.tableMap(0L, 1L, "db", "big", schema)
            var written = 0L
            val batch = new Array[Array[Any]](100)
            while (written < perFile) {
              val n = math.min(100L, perFile - written).toInt
              var j = 0
              while (j < n) {
                batch(j) = Array[Any](id, id * 0.5, s"r$id"); id += 1; j += 1
              }
              w.gtid(id, id / 100, sid)
              w.writeRows(id, 1L, schema, batch.take(n).toSeq)
              written += n
            }
          } finally w.close()
        }
        java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, "binlog.index"),
          (0 until nFiles).map(fi => f"mysql-bin.$fi%06d").mkString("", "\n", "\n"))
        (0 until nFiles).map(fi =>
          new java.io.File(f"$dir/mysql-bin.$fi%06d").length()).sum
      }
      val df = spark.read.format("binlogcdc")
        .option("indexFile", s"$dir/binlog.index")
        .option("database", "db").option("table", "big")
        .option("binlogFormat", "mysql").load()
      val t0 = System.nanoTime()
      val row = df.agg(sum(col("id")).as("s"), count(lit(1)).as("n")).head()
      val secs = (System.nanoTime() - t0) / 1e9
      val total = nFiles * perFile
      assert(row.getLong(1) == total, s"decoded ${row.getLong(1)} of $total rows")
      assert(row.getLong(0) == total * (total - 1) / 2, "decoded ids must sum exactly")
      println(f"SCALE mysqlDecode: ${total / secs / 1e6}%.2f Mrows/s, ${gen / secs / 1e6}%.0f MB/s over $nFiles files (CRC32 verified)")

      // the PK-only projection over the SAME log: the at-scale
      // key-stream shape (cdc37's projection class). The decoder skips
      // non-needed values (skipValue — no string allocation for `s`),
      // so the pruned scan should comfortably beat the full decode;
      // this quantifies how much the projection-pushdown path buys.
      val t1 = System.nanoTime()
      val row2 = df.select(col("id")).agg(sum(col("id")).as("s"),
        count(lit(1)).as("n")).head()
      val secs2 = (System.nanoTime() - t1) / 1e9
      assert(row2.getLong(1) == total && row2.getLong(0) == total * (total - 1) / 2)
      println(f"SCALE mysqlDecodePkOnly: ${total / secs2 / 1e6}%.2f Mrows/s " +
        f"(vs full ${total / secs / 1e6}%.2f — pruned-decode speedup " +
        f"${secs / secs2}%.2fx)")

      // the SAME log decoded under an ACTIVE epoch plan: the expected
      // schema is a permutation of the declared one plus an added
      // column, so every TABLE_MAP installs a remap and every image is
      // shaped at emission — quantifies what schemaDrift=epochs costs
      // on the hot decode loop (the steady state of a consumer reading
      // history across an old ALTER at 100 TB)
      val drifted = StructType(Seq(StructField("s", StringType),
        StructField("id", LongType), StructField("v", DoubleType),
        StructField("x", IntegerType)))
      val df3 = spark.read.format("binlogcdc")
        .schema(graft.cdc.CdcSchema.withEnvelope(drifted))
        .option("indexFile", s"$dir/binlog.index")
        .option("database", "db").option("table", "big")
        .option("binlogFormat", "mysql")
        .option("schemaDrift", "epochs").load()
      val t3 = System.nanoTime()
      val row3 = df3.agg(sum(col("id")).as("s"), count(lit(1)).as("n")).head()
      val secs3 = (System.nanoTime() - t3) / 1e9
      assert(row3.getLong(1) == total && row3.getLong(0) == total * (total - 1) / 2,
        "epoch-remapped ids must survive the permutation exactly")
      println(f"SCALE mysqlDecodeEpochs: ${total / secs3 / 1e6}%.2f Mrows/s " +
        f"(vs plain full ${total / secs / 1e6}%.2f — drift-plan overhead " +
        f"${secs3 / secs}%.2fx)")

      // the SAME log addressed as a file:// root (the LogFs seam at
      // scale): identical row set required EXACTLY; the timing bound is
      // a generous backstop pinning that scheme routing costs O(opens)
      // — per-file constants — never O(bytes) on the decode hot loop
      // (LocalFileSystem under file:// is the hdfs:// code path).
      val dfU = spark.read.format("binlogcdc")
        .option("indexFile", s"file://$dir/binlog.index")
        .option("database", "db").option("table", "big")
        .option("binlogFormat", "mysql").load()
      val t4 = System.nanoTime()
      val row4 = dfU.agg(sum(col("id")).as("s"), count(lit(1)).as("n")).head()
      val secs4 = (System.nanoTime() - t4) / 1e9
      assert(row4.getLong(1) == total &&
          row4.getLong(0) == total * (total - 1) / 2,
        "file:// root must decode the identical row set")
      println(f"SCALE mysqlDecodeFileUri: ${total / secs4 / 1e6}%.2f Mrows/s " +
        f"(vs bare-path ${total / secs / 1e6}%.2f — scheme overhead " +
        f"${secs4 / secs}%.2fx)")
      assert(secs4 < 3.0 * secs,
        f"file:// decode is ${secs4 / secs}%.2fx the bare-path decode — " +
          "scheme routing is taxing the byte path, not just the opens")

      // the SAME log over the REPLICATION WIRE (loopback FakeMysqld →
      // MysqlReplica → the shared EventReader → RowDecoder): the live
      // tail is ONE socket by protocol, so this single-stream
      // throughput is the production ceiling for live CDC ingestion.
      // Not apples-to-apples with the 8-way-parallel Spark file scan
      // above — the pins here are exact row/sum parity over the wire
      // and the ABSOLUTE Mrows/s (a server's single-session binlog
      // send rate is the same order, so the client must not be the
      // bottleneck).
      val files = (0 until nFiles).map(fi => f"$dir/mysql-bin.$fi%06d")
      val srv = new graft.cdc.FakeMysqld(files, "repl", "pw")
      val t5 = System.nanoTime()
      val sess = graft.cdc.MysqlReplica.connect("127.0.0.1", srv.port,
        "repl", "pw")
      var nRows = 0L; var idSum = 0L
      try {
        val dec = new graft.cdc.MysqlBinlog.RowDecoder("db", "big",
          expectedSchema = Some(schema))
        val events = sess.dumpFrom(serverId = 9L)
        try while (events.hasNext) dec.decode(events.next()).foreach { r =>
          nRows += 1; idSum += r.values(0).asInstanceOf[Long]
        } finally events.close()
      } finally { sess.close(); srv.close() }
      val secs5 = (System.nanoTime() - t5) / 1e9
      assert(nRows == total && idSum == total * (total - 1) / 2,
        s"replication stream decoded $nRows rows (want $total) — wire loss")
      srv.firstFailure.foreach(t => throw t)
      println(f"SCALE mysqlReplicaWire: ${total / secs5 / 1e6}%.2f Mrows/s " +
        f"over the loopback dump (vs file ${total / secs / 1e6}%.2f — " +
        f"wire overhead ${secs5 / secs}%.2fx, single socket by protocol)")

      // the SAME wire as an INGESTION MODE (ReplicaTail, land-then-
      // read): the single socket only LANDS bytes (no decode on the
      // single-threaded path — that was mysqlReplicaWire's ceiling);
      // the fold decodes DISTRIBUTED through appendTables. Pins: exact
      // row/sum parity via the MATERIALIZED frame (executors decoded
      // it, the driver buffered nothing), landed bytes equal the
      // files' event bytes exactly, and end-to-end throughput stays
      // the same order as the driver-decode wire path — the landing
      // indirection must not tax the socket.
      val srv2 = new graft.cdc.FakeMysqld(files, "repl", "pw")
      val t6 = System.nanoTime()
      val res6 = graft.sources.ReplicaTail.run(spark, "127.0.0.1",
        srv2.port, "repl", "pw", serverId = 10L,
        tables = Seq(("db", "big")), landRoot = s"$dir/rtland",
        outRoot = s"$dir/rtout", maxBytesPerFold = Long.MaxValue / 2)
      val secs6 = (System.nanoTime() - t6) / 1e9
      srv2.firstFailure.foreach(t => throw t)
      srv2.close()
      val fileBytes = files.map(f => new java.io.File(f).length() - 4).sum
      assert(res6.bytesLanded == fileBytes,
        s"landed ${res6.bytesLanded} bytes, files carry $fileBytes")
      val rowF = res6.tables(("db", "big"))
        .agg(sum(col("id")).as("s"), count(lit(1)).as("n")).head()
      assert(rowF.getLong(1) == total &&
          rowF.getLong(0) == total * (total - 1) / 2,
        "land-then-read frame must equal the storyline exactly")
      val landSecs = secs6 - res6.foldSeconds
      println(f"SCALE replicaTailLand: land ${total / landSecs / 1e6}%.2f " +
        f"Mrows/s (${res6.bytesLanded / 1e6 / landSecs}%.0f MB/s socket→disk, " +
        f"no driver decode) + ${res6.folds} distributed fold(s) " +
        f"${res6.foldSeconds}%.1f s = end-to-end ${total / secs6 / 1e6}%.2f " +
        f"Mrows/s materialized (driver-decode wire path: " +
        f"${total / secs5 / 1e6}%.2f Mrows/s, nothing materialized)")
      graft.TmpDirs.deleteRecursively(new java.io.File(dir))
    }

    // the MariaDB flavor over the same storyline (V1 rows events, GTID
    // type 162 opening the txn, CRC32 verified): the guard that the
    // fork's decode path keeps pace with the MySQL one — the layouts
    // differ only by the 2-byte extra-data field and the identity
    // events, so throughput should be within noise of mysqlDecode
    timed(s"mariaDecodeScan($nCdc)") {
      import org.apache.spark.sql.types._
      val dir = java.nio.file.Files.createTempDirectory("maria-scale").toString
      val schema = StructType(Seq(StructField("id", LongType),
        StructField("v", DoubleType), StructField("s", StringType)))
      val nFiles = 8
      val perFile = nCdc / nFiles
      val gen = timed(s"mariaLogGen($nCdc)") {
        var id = 0L
        (0 until nFiles).foreach { fi =>
          val w = new graft.cdc.MysqlBinlog.Writer(f"$dir/maria-bin.$fi%06d",
            checksum = true, maria = true)
          try {
            w.gtidList(Nil)
            w.tableMap(0L, 1L, "db", "big", schema)
            var written = 0L
            val batch = new Array[Array[Any]](100)
            while (written < perFile) {
              val n = math.min(100L, perFile - written).toInt
              var j = 0
              while (j < n) {
                batch(j) = Array[Any](id, id * 0.5, s"r$id"); id += 1; j += 1
              }
              w.gtidMaria(id, id / 100, domain = 0L)
              w.writeRows(id, 1L, schema, batch.take(n).toSeq)
              written += n
            }
          } finally w.close()
        }
        java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, "binlog.index"),
          (0 until nFiles).map(fi => f"maria-bin.$fi%06d").mkString("", "\n", "\n"))
        (0 until nFiles).map(fi =>
          new java.io.File(f"$dir/maria-bin.$fi%06d").length()).sum
      }
      val df = spark.read.format("binlogcdc")
        .option("indexFile", s"$dir/binlog.index")
        .option("database", "db").option("table", "big")
        .option("binlogFormat", "mariadb").load()
      val t0 = System.nanoTime()
      val row = df.agg(sum(col("id")).as("s"), count(lit(1)).as("n")).head()
      val secs = (System.nanoTime() - t0) / 1e9
      val total = nFiles * perFile
      assert(row.getLong(1) == total, s"decoded ${row.getLong(1)} of $total rows")
      assert(row.getLong(0) == total * (total - 1) / 2, "decoded ids must sum exactly")
      println(f"SCALE mariaDecode: ${total / secs / 1e6}%.2f Mrows/s, ${gen / secs / 1e6}%.0f MB/s over $nFiles files (CRC32 verified)")
      graft.TmpDirs.deleteRecursively(new java.io.File(dir))
    }

    // the same mysql-format measurement with binlog_transaction_
    // compression=ON: every 100-row txn decodes out of one zstd
    // TRANSACTION_PAYLOAD event. Reports the on-disk compression ratio
    // (why a 100 TB log ships this way) and the decode cost it buys.
    timed(s"mysqlZstdDecodeScan($nCdc)") {
      import org.apache.spark.sql.types._
      val dir = java.nio.file.Files.createTempDirectory("mysqlz-scale").toString
      val schema = StructType(Seq(StructField("id", LongType),
        StructField("v", DoubleType), StructField("s", StringType)))
      val nFiles = 8
      val perFile = nCdc / nFiles
      val sid = "11111111-1111-1111-1111-111111111111"
      val gen = timed(s"mysqlZstdLogGen($nCdc)") {
        var id = 0L
        (0 until nFiles).foreach { fi =>
          val w = new graft.cdc.MysqlBinlog.Writer(f"$dir/mysql-bin.$fi%06d",
            checksum = true, compressTxns = true)
          try {
            w.tableMap(0L, 1L, "db", "big", schema)
            var written = 0L
            val batch = new Array[Array[Any]](100)
            while (written < perFile) {
              val n = math.min(100L, perFile - written).toInt
              var j = 0
              while (j < n) {
                batch(j) = Array[Any](id, id * 0.5, s"r$id"); id += 1; j += 1
              }
              w.gtid(id, id / 100, sid)
              w.writeRows(id, 1L, schema, batch.take(n).toSeq)
              written += n
            }
          } finally w.close()
        }
        java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, "binlog.index"),
          (0 until nFiles).map(fi => f"mysql-bin.$fi%06d").mkString("", "\n", "\n"))
        (0 until nFiles).map(fi =>
          new java.io.File(f"$dir/mysql-bin.$fi%06d").length()).sum
      }
      val df = spark.read.format("binlogcdc")
        .option("indexFile", s"$dir/binlog.index")
        .option("database", "db").option("table", "big")
        .option("binlogFormat", "mysql").load()
      val t0 = System.nanoTime()
      val row = df.agg(sum(col("id")).as("s"), count(lit(1)).as("n")).head()
      val secs = (System.nanoTime() - t0) / 1e9
      val total = nFiles * perFile
      assert(row.getLong(1) == total, s"decoded ${row.getLong(1)} of $total rows")
      assert(row.getLong(0) == total * (total - 1) / 2, "decoded ids must sum exactly")
      println(f"SCALE mysqlZstdDecode: ${total / secs / 1e6}%.2f Mrows/s over " +
        f"$gen%d on-disk bytes (zstd txns)")
      graft.TmpDirs.deleteRecursively(new java.io.File(dir))
    }

    // Z-order layout at 10M rows: write the same 2-D uniform corpus
    // once linearly sorted and once z-ordered into 64 files, read the
    // parquet footer stats, and count files a 1/16-of-domain box query
    // on the NON-leading dimension can skip. This is the actual
    // file-stat pruning a 100 TB scan does — measured, not asserted
    // from the layout's definition. The leading dimension must keep
    // pruning too (z-order trades a little x-locality, not all of it).
    timed(s"zorderPruning($nBig)") {
      import graft.ops.Layout
      val dims = Seq(Layout.Dim("x", 0L, 4095L), Layout.Dim("y", 0L, 4095L))
      val pts = spark.range(nBig).select(
        (col("id") % 4096L).as("x"),
        ((col("id") * 2654435761L % nBig) % 4096L).as("y"))
      val base = java.nio.file.Files.createTempDirectory("zorder-scale").toString
      pts.repartitionByRange(64, col("x")).sortWithinPartitions("x")
        .write.parquet(s"$base/linear")
      Layout.zOrderBy(pts, dims, bits = 12, numFiles = 64)
        .drop("__z").write.parquet(s"$base/zorder")
      // per-file min/max from the parquet footers via the file-name
      // pseudo-column — the same stats a reader's filter pushdown sees
      def spans(path: String) = spark.read.parquet(path)
        .groupBy(input_file_name()).agg(
          min("x").as("xlo"), max("x").as("xhi"),
          min("y").as("ylo"), max("y").as("yhi"))
        .select("xlo", "xhi", "ylo", "yhi")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      val lin = spans(s"$base/linear")
      val zor = spans(s"$base/zorder")
      // box: y in [0, 255] (1/16 of the domain), any x
      def skipped(s: Array[(Long, Long, Long, Long)]): Int =
        s.count { case (_, _, ylo, yhi) => yhi < 0L || ylo > 255L }
      val (skLin, skZ) = (skipped(lin), skipped(zor))
      println(s"SCALE zorder: box-on-y skips $skZ/${zor.length} z-ordered " +
        s"files vs $skLin/${lin.length} linear-sorted")
      assert(skLin == 0, "a linear x-sort cannot prune on y — control check")
      assert(skZ * 4 >= zor.length * 3,
        s"z-layout must skip >= 3/4 of files for a 1/16 box, got $skZ/${zor.length}")
      // leading-dimension pruning survives: an x-box still skips files
      def skippedX(s: Array[(Long, Long, Long, Long)]): Int =
        s.count { case (xlo, xhi, _, _) => xhi < 0L || xlo > 255L }
      assert(skippedX(zor) * 2 >= zor.length,
        s"z-layout must still skip >= half the files on x, got ${skippedX(zor)}/${zor.length}")
      graft.TmpDirs.deleteRecursively(new java.io.File(base))
    }

    spark.stop()
  }
}
