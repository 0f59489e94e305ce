package graft

import org.apache.spark.sql.functions._

/** Property-style specs for the span/semantic dedup operators: random
  * corpora checked against straight-line Scala brute-force references
  * (every span enumerated, every cluster pair compared), pinning the
  * distributed formulations — interval merge, cluster scoping, argmax
  * tie-breaks — to semantics an independent implementation agrees with. */
class DedupPropertySpec extends SparkTestBase {
  import spark.implicits._

  // tiny vocabulary so cross-doc span collisions actually occur
  private def randomCorpus(n: Int, seed: Long): Seq[(Long, String)] = {
    val rnd = new scala.util.Random(seed)
    val vocab = Seq("a", "b", "c", "d")
    (0 until n).map { i =>
      val len = rnd.nextInt(20) + 1
      (i.toLong, Seq.fill(len)(vocab(rnd.nextInt(vocab.length))).mkString(" "))
    }
  }

  /** Reference: enumerate every w-span of every doc, find cross-doc
    * duplicated spans, and per doc union the hit intervals exactly. */
  private def refCoverage(docs: Seq[(Long, String)], w: Int): Map[Long, (Long, Long)] = {
    val spans = docs.flatMap { case (id, text) =>
      val t = text.split(" ")
      (0 to t.length - w).map(i => (id, i, t.slice(i, i + w).mkString(" ")))
    }
    val dup = spans.groupBy(_._3).filter(_._2.map(_._1).distinct.size >= 2).keySet
    val byDoc = spans.filter(s => dup.contains(s._3)).groupBy(_._1)
    docs.map { case (id, text) =>
      val n = text.split(" ").length.toLong
      val covered = byDoc.getOrElse(id, Seq.empty)
        .flatMap(s => s._2 until s._2 + w).toSet.size.toLong
      id -> (n, covered)
    }.toMap
  }

  test("connectedComponents: large-star/small-star equals min-label on random graphs") {
    for (seed <- Seq(1, 7, 42)) {
      val rnd = new scala.util.Random(seed)
      val n = 120
      // sparse random graph + a planted 30-node chain (depth stressor)
      // + self loops + duplicate and reversed edges (input noise)
      val random = Seq.fill(90)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      val chain = (200L until 230L).sliding(2).map(p => (p(0), p(1))).toSeq
      val noise = Seq((5L, 5L), (3L, 9L), (9L, 3L), (3L, 9L))
      val edges = (random ++ chain ++ noise).toDF("src", "dst")
      val a = graft.ops.Dedup.connectedComponents(edges, largeStar = false)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      val b = graft.ops.Dedup.connectedComponents(edges, largeStar = true)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(a == b, s"seed=$seed: star-contraction labels diverge from min-label")
      // chain sanity: the planted chain is one component rooted at 200
      assert((200L until 230L).forall(b(_) == 200L))
    }
  }

  test("connectedComponents: star contraction converges in far fewer rounds on a long chain") {
    // a 400-node path has diameter 399: min-label needs ~400 rounds (it
    // would blow the default 50-round cap), star contraction O(log d)
    val chain = (0L until 400L).sliding(2).map(p => (p(0), p(1))).toSeq
      .toDF("src", "dst")
    val (labels, iters) =
      graft.ops.Dedup.connectedComponentsStars(chain, "src", "dst", maxIters = 50)
    assert(iters <= 16, s"star contraction took $iters rounds on a 400-chain")
    val got = labels.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.length == 400 && got.forall(_._2 == 0L),
      "every chain node must label to the minimum node 0")
    // and the min-label form genuinely cannot do this within the cap —
    // which is why star contraction is the default
    val e = intercept[IllegalArgumentException] {
      graft.ops.Dedup.connectedComponents(chain, maxIters = 50,
        largeStar = false)
    }
    assert(e.getMessage.contains("did not converge"))
  }

  test("spanDupCoverage over random corpora equals the exact position-set reference") {
    Seq(11L, 23L, 37L).foreach { seed =>
      val docs = randomCorpus(120, seed)
      val w = 4
      val got = graft.ops.Dedup.spanDupCoverage(docs.toDF("doc_id", "text"),
          "text", "doc_id", w = w)
        .collect().map(r => r.getAs[Long]("doc_id") ->
          (r.getAs[Long]("n_tokens"), r.getAs[Long]("dup_tokens"))).toMap
      val ref = refCoverage(docs, w)
      assert(got.keySet == ref.keySet)
      got.foreach { case (id, v) =>
        assert(v == ref(id), s"seed $seed doc $id: got $v want ${ref(id)}")
      }
    }
  }

  test("hashSpans coverage equals the string form over collision-heavy random corpora") {
    // the 4-word vocabulary makes nearly every span a cross-doc
    // duplicate — the densest hash-key workload the 128-bit form sees
    Seq(5L, 13L, 29L).foreach { seed =>
      val docs = randomCorpus(120, seed).toDF("doc_id", "text").localCheckpoint(true)
      val str = graft.ops.Dedup.spanDupCoverage(docs, "text", "doc_id", w = 4)
        .orderBy("doc_id").collect().toSeq
      val hsh = graft.ops.Dedup.spanDupCoverage(docs, "text", "doc_id", w = 4,
          hashSpans = true)
        .orderBy("doc_id").collect().toSeq
      assert(str == hsh, s"seed $seed: hash-keyed coverage diverged from string form")
    }
  }

  test("duplicatedSpans over random corpora equals the exact reference multiset") {
    val docs = randomCorpus(150, 7L)
    val w = 4
    val got = graft.ops.Dedup.duplicatedSpans(docs.toDF("doc_id", "text"),
        "text", "doc_id", w = w)
      .collect().map(r => r.getAs[String]("span") ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("n_occ"), r.getAs[Long]("first_doc")))
      .toMap
    val spans = docs.flatMap { case (id, text) =>
      val t = text.split(" ")
      (0 to t.length - w).map(i => (id, t.slice(i, i + w).mkString(" ")))
    }
    val ref = spans.groupBy(_._2)
      .filter(_._2.map(_._1).distinct.size >= 2)
      .map { case (span, occ) =>
        span -> (occ.map(_._1).distinct.size.toLong, occ.size.toLong, occ.map(_._1).min)
      }
    assert(got == ref)
  }

  test("semDedup over random vectors equals the brute cluster-scoped reference") {
    val rnd = new scala.util.Random(5)
    val dim = 6
    val vecs = (0 until 160).map(i =>
      (i.toLong, Array.fill(dim)(rnd.nextDouble().toFloat * 2 - 1)))
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      (0 until dim).foreach { j =>
        dot += a(j).toDouble * b(j).toDouble
        na += a(j).toDouble * a(j).toDouble
        nb += b(j).toDouble * b(j).toDouble
      }
      if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val seeds = vecs.filter(_._1 % 20 == 0)
    val tau = 0.5
    // reference: argmax-cosine assignment (ties to smaller seed id),
    // then within-cluster lower-id witness search
    val asg = vecs.map { case (id, v) =>
      id -> seeds.map { case (sid, sv) => (sid, cos(v, sv)) }
        .maxBy { case (sid, c) => (c, -sid) }._1
    }.toMap
    val ref = vecs.map { case (id, v) =>
      val isDup = vecs.exists { case (oid, ov) =>
        oid < id && asg(oid) == asg(id) && cos(ov, v) >= tau
      }
      id -> (asg(id), isDup)
    }.toMap
    val df = vecs.toDF("vec_id", "embedding")
    val got = graft.ops.Dedup.semDedup(df, "embedding", "vec_id",
        seeds = df.filter(col("vec_id") % 20 === 0),
        seedId = "vec_id", seedEmb = "embedding", threshold = tau)
      .collect().map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Long]("cluster_id"), r.getAs[Boolean]("is_dup"))).toMap
    assert(got == ref)
  }

  test("bigramLmScore over a random corpus equals the exact fraction-fold reference") {
    val docs = randomCorpus(100, 13L)
    val bigrams = docs.flatMap { case (_, text) =>
      val t = text.split(" ")
      (0 until t.length - 1).map(i => (t(i), t(i + 1)))
    }
    val c2 = bigrams.groupBy(identity).map { case (k, v) => k -> v.size }
    val c1 = bigrams.groupBy(_._1).map { case (k, v) => k -> v.size }
    val ref = docs.flatMap { case (id, text) =>
      val t = text.split(" ")
      if (t.length < 2) None
      else {
        val ps = (0 until t.length - 1)
          .map(i => c2((t(i), t(i + 1))).toDouble / c1(t(i)).toDouble)
        // same fixed fold order as the operator: position ascending
        Some(id -> (ps.length.toLong, ps.foldLeft(0.0)(_ + _) / ps.length))
      }
    }.toMap
    val got = graft.ops.TextAnalysis.bigramLmScore(docs.toDF("doc_id", "text"),
        "text", "doc_id")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_bigrams"), r.getAs[Double]("lm_score"))).toMap
    assert(got.keySet == ref.keySet)
    got.foreach { case (id, (n, s)) =>
      assert(n == ref(id)._1 && s == ref(id)._2, s"doc $id: got ($n,$s) want ${ref(id)}")
    }
  }

  test("bestOfCluster keeps the highest-quality member, not the min id") {
    // B (id 1) repeats a token (distinct ratio 39/40); A (id 2) is the
    // clean original (ratio 1.0) — shingle jaccard 37/39 ≈ 0.949, one
    // cluster. Min-id dedup would keep B; quality-aware keeps A.
    val words = (1 to 40).map(i => s"w$i")
    val a = words.mkString(" ")
    val b = (words.take(39) :+ "w39").mkString(" ")
    val lone = (100 to 130).map(i => s"x$i").mkString(" ")
    val docs = Seq((1L, b), (2L, a), (3L, lone)).toDF("doc_id", "text")
    val got = graft.ops.Dedup.bestOfCluster(docs, "text", "doc_id", 0.8)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getBoolean(3))).toMap
    assert(got(1L)._1 == got(2L)._1, "A and B must share a cluster")
    assert(!got(1L)._3 && got(2L)._3,
      s"survivor must be the clean doc 2 (scores ${got(1L)._2} vs ${got(2L)._2})")
    assert(got(3L) == ((3L, 1.0, true)), "singleton keeps itself")
  }

  test("minhashCalibration equals an exact BigInt-fold reference on random corpora") {
    val P = 2147483647L
    val A = Seq(1L, 3L, 5L, 7L, 11L, 13L, 17L, 19L)
    val B = Seq(0L, 101L, 203L, 307L, 401L, 503L, 601L, 701L)
    def poly(s: String): Long =
      s.getBytes("UTF-8").foldLeft(0L)((h, c) => (h * 131 + (c & 0xFF)) % P)
    def shingleSet(text: String): Set[String] = {
      val t = text.split(" ")
      if (t.length < 3) Set(t.mkString(" "))
      else (0 to t.length - 3).map(i => t.slice(i, i + 3).mkString(" ")).toSet
    }
    for (seed <- Seq(2, 13)) {
      val docs = randomCorpus(60, seed)
      // reference report from first principles
      val sh = docs.map { case (id, tx) => id -> shingleSet(tx) }.toMap
      val pairs = for {
        (x, sx) <- sh.toSeq; (y, sy) <- sh.toSeq if x < y
        j = sh(x).intersect(sh(y)).size.toDouble /
          sh(x).union(sh(y)).size.toDouble
        if j >= 0.6
      } yield {
        def slots(s: Set[String]) = A.indices.map(i =>
          s.map(g => (poly(g) * A(i) + B(i)) % P).min)
        val m = slots(sx).zip(slots(sy)).count(p => p._1 == p._2)
        (math.floor(j * 10).toInt, m, j)
      }
      val ref = pairs.groupBy(_._1).map { case (bin, ps) =>
        bin -> (ps.size.toLong,
          ps.map(_._2).sum.toDouble / (8.0 * ps.size),
          ps.count(p => math.abs(p._2 / 8.0 - p._3) > 0.15).toLong)
      }
      val got = graft.ops.Dedup.minhashCalibration(
          docs.toDF("doc_id", "text"), "text", "doc_id", threshold = 0.6)
        .collect().map(r => r.getInt(0) ->
          (r.getLong(1), r.getDouble(2), r.getLong(3))).toMap
      assert(got == ref, s"seed=$seed: got $got want $ref")
    }
  }

  /** Brute-force containment reference: every ordered pair, exact
    * shingle-set intersection over |contained|. */
  private def refContainment(docs: Seq[(Long, String)], t: Double,
      n: Int = 3): Set[(Long, Long, Double)] = {
    def shingles(text: String): Set[String] = {
      val tk = text.split(" ").toSeq
      if (tk.length < n) Set(tk.mkString(" "))
      else tk.sliding(n).map(_.mkString(" ")).toSet
    }
    val sh = docs.map { case (id, text) => id -> shingles(text) }
    (for {
      (a, sa) <- sh; (b, sb) <- sh if a != b
      c = (sa & sb).size.toDouble / sa.size
      if c >= t
    } yield (a, b, c)).toSet
  }

  test("containmentSelfJoinExact equals the brute all-pairs reference (zero false negatives)") {
    for (seed <- Seq(3, 11, 42)) {
      val docs = randomCorpus(60, seed)
      val want = refContainment(docs, 0.7)
      val got = graft.ops.Dedup.containmentSelfJoinExact(
          docs.toDF("doc_id", "text"), "text", "doc_id", threshold = 0.7)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got == want, s"seed=$seed: got ${got.size} want ${want.size}; " +
        s"missing=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
    }
  }

  /** (doc_id, canon_id, cluster_size, score, keep) rows of an index. */
  private def verdictRows(path: String): Set[(Long, Long, Long, Double, Boolean)] =
    graft.ops.IndexLog.snapshot(spark, path).frame("verdicts")
      .select("doc_id", "canon_id", "cluster_size", "score", "keep")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getBoolean(4))).toSet

  test("cluster-index lifecycle on random corpora: append then delete both equal the rebuild") {
    // tiny vocabulary => dense, irregular cluster shapes (bridges,
    // chains, tangles) — the structures the planted lifecycle specs
    // can't enumerate. Drive build(subset) -> append(rest) -> delete
    // (random ids) and pin ROW-IDENTITY with from-scratch rebuilds at
    // both waypoints.
    for (seed <- Seq(5, 23)) {
      val rnd = new scala.util.Random(seed)
      val docs = randomCorpus(50, seed)
      val (batch, base) = docs.partition(_ => rnd.nextDouble() < 0.3)
      val idx = java.nio.file.Files.createTempDirectory(s"clidx-prop-$seed").toString
      graft.ops.Dedup.buildClusterIndex(base.toDF("doc_id", "text"), idx,
        threshold = 0.5, nBuckets = 8)
      if (batch.nonEmpty)
        graft.ops.Dedup.appendToClusterIndex(spark, idx,
          batch.toDF("doc_id", "text"))
      val full = java.nio.file.Files.createTempDirectory(s"clidx-prop-f-$seed").toString
      graft.ops.Dedup.buildClusterIndex(docs.toDF("doc_id", "text"), full,
        threshold = 0.5, nBuckets = 8)
      assert(verdictRows(idx) == verdictRows(full),
        s"seed=$seed: append diverged from rebuild")
      val delIds = docs.map(_._1).filter(_ => rnd.nextDouble() < 0.4)
      if (delIds.nonEmpty) {
        graft.ops.Dedup.deleteFromClusterIndex(spark, idx,
          delIds.toDF("doc_id"))
        val rem = java.nio.file.Files.createTempDirectory(s"clidx-prop-r-$seed").toString
        graft.ops.Dedup.buildClusterIndex(
          docs.filterNot(d => delIds.contains(d._1)).toDF("doc_id", "text"),
          rem, threshold = 0.5, nBuckets = 8)
        assert(verdictRows(idx) == verdictRows(rem),
          s"seed=$seed: delete diverged from rebuild (delIds=$delIds)")
        graft.TmpDirs.deleteRecursively(new java.io.File(rem))
        // RE-APPEND a random subset of the deleted ids with NEW text
        // (their stale artifact rows are still on disk — verification
        // must resolve to the fresh arrays), then DELETE a random
        // subset of those again (the first delete's marker must not
        // swallow the second) — the full takedown/reingest cycle,
        // rebuild-pinned at both waypoints
        val reIds = delIds.filter(_ => rnd.nextDouble() < 0.6)
        if (reIds.nonEmpty) {
          val reDocs = randomCorpus(50, seed * 31 + 7)
            .filter(d => reIds.contains(d._1))
          val liveDocs = docs.filterNot(d => delIds.contains(d._1)) ++ reDocs
          graft.ops.Dedup.appendToClusterIndex(spark, idx,
            reDocs.toDF("doc_id", "text"))
          val reb = java.nio.file.Files.createTempDirectory(s"clidx-prop-re-$seed").toString
          graft.ops.Dedup.buildClusterIndex(liveDocs.toDF("doc_id", "text"),
            reb, threshold = 0.5, nBuckets = 8)
          assert(verdictRows(idx) == verdictRows(reb),
            s"seed=$seed: re-append of deleted ids with new text diverged " +
              s"from rebuild (reIds=$reIds)")
          graft.TmpDirs.deleteRecursively(new java.io.File(reb))
          val del2 = reIds.filter(_ => rnd.nextDouble() < 0.5)
          if (del2.nonEmpty && del2.size < liveDocs.size) {
            graft.ops.Dedup.deleteFromClusterIndex(spark, idx,
              del2.toDF("doc_id"))
            val reb2 = java.nio.file.Files.createTempDirectory(s"clidx-prop-d2-$seed").toString
            graft.ops.Dedup.buildClusterIndex(
              liveDocs.filterNot(d => del2.contains(d._1)).toDF("doc_id", "text"),
              reb2, threshold = 0.5, nBuckets = 8)
            assert(verdictRows(idx) == verdictRows(reb2),
              s"seed=$seed: second delete after re-append diverged " +
                s"(del2=$del2)")
            graft.TmpDirs.deleteRecursively(new java.io.File(reb2))
          }
        }
      }
      Seq(idx, full).foreach(d =>
        graft.TmpDirs.deleteRecursively(new java.io.File(d)))
    }
  }

  test("cutDuplicatedSpans equals the exact position-set reference; string == hash form; counts match coverage") {
    Seq(3L, 17L).foreach { seed =>
      val docs = randomCorpus(120, seed)
      val w = 4
      val spans = docs.flatMap { case (id, text) =>
        val t = text.split(" ")
        (0 to t.length - w).map(i => (id, i, t.slice(i, i + w).mkString(" ")))
      }
      val dup = spans.groupBy(_._3).filter(_._2.map(_._1).distinct.size >= 2).keySet
      val want = docs.map { case (id, text) =>
        val t = text.split(" ")
        val covered = spans
          .filter(s => s._1 == id && dup.contains(s._3))
          .flatMap(s => s._2 until s._2 + w).toSet
        val clean = t.indices.filterNot(covered).map(t).mkString(" ")
        id -> (clean, t.length.toLong, covered.size.toLong)
      }.toMap
      val df = docs.toDF("doc_id", "text").localCheckpoint(true)
      val got = graft.ops.Dedup.cutDuplicatedSpans(df, "text", "doc_id", w = w)
        .collect().map(r => r.getAs[Long]("doc_id") ->
          (r.getAs[String]("clean_text"), r.getAs[Long]("n_tokens"),
            r.getAs[Long]("dup_tokens"))).toMap
      assert(got.keySet == want.keySet)
      got.foreach { case (id, v) =>
        assert(v == want(id), s"seed $seed doc $id: got $v want ${want(id)}")
      }
      // the 100 TB hash-keyed form produces the identical frame
      val hsh = graft.ops.Dedup.cutDuplicatedSpans(df, "text", "doc_id",
          w = w, hashSpans = true)
        .orderBy("doc_id").collect().toSeq
      val str = graft.ops.Dedup.cutDuplicatedSpans(df, "text", "doc_id", w = w)
        .orderBy("doc_id").collect().toSeq
      assert(str == hsh, s"seed $seed: hash-keyed cut diverged from string form")
      // dup_tokens agrees with spanDupCoverage (same merged islands)
      val cov = graft.ops.Dedup.spanDupCoverage(df, "text", "doc_id", w = w)
        .collect().map(r => r.getAs[Long]("doc_id") ->
          r.getAs[Long]("dup_tokens")).toMap
      got.foreach { case (id, v) =>
        assert(v._3 == cov(id), s"seed $seed doc $id: cut=${v._3} cov=${cov(id)}")
      }
    }
  }

  test("semDedupIncremental and semDedupFromIndex equal the batch form restricted to the batch") {
    val rnd = new scala.util.Random(13)
    val dim = 6
    val vecs = (0 until 160).map(i =>
      (i.toLong, Array.fill(dim)(rnd.nextDouble().toFloat * 2 - 1)))
    val df = vecs.toDF("vec_id", "embedding").localCheckpoint(true)
    val seeds = df.filter(col("vec_id") % 20 === 0)
    val corpus = df.filter(col("vec_id") % 3 =!= 0)
    val batch = df.filter(col("vec_id") % 3 === 0)
    val tau = 0.5
    // the contract: semDedup over EVERYTHING, restricted to the batch
    val want = graft.ops.Dedup.semDedup(df, "embedding", "vec_id",
        seeds = seeds, seedId = "vec_id", seedEmb = "embedding",
        threshold = tau)
      .filter(col("vec_id") % 3 === 0)
      .collect().map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Long]("cluster_id"), r.getAs[Boolean]("is_dup"))).toMap
    assert(want.values.exists(_._2) && want.values.exists(!_._2),
      s"vacuous fixture: $want") // both outcomes must actually occur
    val inc = graft.ops.Dedup.semDedupIncremental(corpus, batch,
        "embedding", "vec_id", seeds = seeds, seedId = "vec_id",
        seedEmb = "embedding", threshold = tau)
      .collect().map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Long]("cluster_id"), r.getAs[Boolean]("is_dup"))).toMap
    assert(inc == want, "incremental diverged from the restricted batch form")
    val idx = java.nio.file.Files.createTempDirectory("semidx-prop").toString
    graft.ops.Dedup.buildSemDedupIndex(corpus, idx, "embedding", "vec_id",
      seeds = seeds, seedId = "vec_id", seedEmb = "embedding")
    val fromIdx = graft.ops.Dedup.semDedupFromIndex(spark, idx, batch,
        "embedding", "vec_id", threshold = tau)
      .collect().map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Long]("cluster_id"), r.getAs[Boolean]("is_dup"))).toMap
    assert(fromIdx == want, "from-index diverged from the restricted batch form")
    // overlapping ids refuse loud (the restriction contract is
    // ill-defined with a doc on both sides)
    val ex = intercept[IllegalArgumentException] {
      graft.ops.Dedup.semDedupIncremental(corpus,
        df.filter(col("vec_id") % 3 =!= 0).limit(1), "embedding", "vec_id",
        seeds = seeds, seedId = "vec_id", seedEmb = "embedding",
        threshold = tau).collect()
    }
    assert(ex.getMessage.contains("already-indexed"), ex.getMessage)
    graft.TmpDirs.deleteRecursively(new java.io.File(idx))
  }

  test("containmentPrune fails loud past spark.graft.dedup.containmentPairCap") {
    val big = (0 until 60).map(i => s"w$i").mkString(" ")
    val small = (20 until 40).map(i => s"w$i").mkString(" ")
    val docs = Seq((1L, small, 20L), (2L, big, 60L), (3L, "x0 x1 x2 x3 x4", 5L))
      .toDF("doc_id", "text", "n_chars")
    withSQLConf("spark.graft.dedup.containmentPairCap" -> "0") {
      val ex = intercept[IllegalArgumentException] {
        graft.ops.Dedup.containmentPrune(docs, "text", "doc_id", "n_chars", 0.8)
          .collect()
      }
      assert(ex.getMessage.contains("spark.graft.dedup.containmentPairCap"),
        ex.getMessage)
    }
    // with the default cap the contained doc is pruned as before
    val kept = graft.ops.Dedup
      .containmentPrune(docs, "text", "doc_id", "n_chars", 0.8)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 3L), kept)
  }

  test("clusterIndexTransitions equals the driver-side reference over random lifecycles") {
    for (seed <- Seq(9, 31)) {
      val rnd = new scala.util.Random(seed)
      val docs = randomCorpus(50, seed)
      val (batch, base) = docs.partition(_ => rnd.nextDouble() < 0.3)
      val dels = docs.map(_._1).filter(_ => rnd.nextDouble() < 0.3)
      val oldIdx = java.nio.file.Files.createTempDirectory(s"tr-old-$seed").toString
      val newIdx = java.nio.file.Files.createTempDirectory(s"tr-new-$seed").toString
      graft.ops.Dedup.buildClusterIndex(base.toDF("doc_id", "text"), oldIdx,
        threshold = 0.5, nBuckets = 8)
      graft.ops.Dedup.buildClusterIndex(base.toDF("doc_id", "text"), newIdx,
        threshold = 0.5, nBuckets = 8)
      if (batch.nonEmpty)
        graft.ops.Dedup.appendToClusterIndex(spark, newIdx,
          batch.toDF("doc_id", "text"))
      val delIndexed = dels.filter(i => base.exists(_._1 == i) ||
        batch.exists(_._1 == i))
      if (delIndexed.nonEmpty)
        graft.ops.Dedup.deleteFromClusterIndex(spark, newIdx,
          delIndexed.toDF("doc_id"))
      def labelsOf(p: String): Map[Long, Long] =
        graft.ops.IndexLog.snapshot(spark, p).frame("verdicts").select("doc_id", "canon_id")
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val lo = labelsOf(oldIdx); val ln = labelsOf(newIdx)
      // driver-side reference classification
      val ref = scala.collection.mutable.Map.empty[String, Long]
        .withDefaultValue(0L)
      lo.groupBy(_._2).foreach { case (_, m) =>
        val surv = m.keys.filter(ln.contains).map(ln).toSet
        val kind = if (surv.isEmpty) "old_removed"
          else if (surv.size >= 2) "old_split" else "old_intact"
        ref(kind) += 1
      }
      ln.groupBy(_._2).foreach { case (_, m) =>
        val oldLabels = m.keys.filter(lo.contains).map(lo).toSet
        val nNew = m.keys.count(!lo.contains(_))
        val kind = if (oldLabels.isEmpty) "new_newborn"
          else if (oldLabels.size >= 2) "new_merged"
          else if (nNew >= 1) "new_enlarged" else "new_carried"
        ref(kind) += 1
      }
      ref("docs_removed") += lo.keys.count(!ln.contains(_))
      ref("docs_added") += ln.keys.count(!lo.contains(_))
      ref("docs_carried") += lo.keys.count(ln.contains)
      val got = graft.ops.Dedup.clusterIndexTransitions(
          graft.ops.IndexLog.snapshot(spark, oldIdx).frame("verdicts"),
          graft.ops.IndexLog.snapshot(spark, newIdx).frame("verdicts"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val want = Seq("old_removed", "old_split", "old_intact",
        "new_newborn", "new_merged", "new_enlarged", "new_carried",
        "docs_removed", "docs_added", "docs_carried")
        .map(k => k -> ref(k)).toMap
      assert(got == want, s"seed=$seed: got $got want $want")
      // the append-side kinds must actually fire across the seeds for
      // this property to mean anything on the llm77 (delete-only) oracle
      Seq(oldIdx, newIdx).foreach(d =>
        graft.TmpDirs.deleteRecursively(new java.io.File(d)))
    }
  }

  test("containment finds the embedded-doc pairs Jaccard structurally misses") {
    // B = 60 distinct tokens; A = B's middle 20 tokens. Every shingle of
    // A appears in B (containment 1.0) while jaccard = 18/58 ≈ 0.31
    val big = (0 until 60).map(i => s"w$i").mkString(" ")
    val small = (20 until 40).map(i => s"w$i").mkString(" ")
    val docs = Seq((1L, small), (2L, big), (3L, "x0 x1 x2 x3 x4"))
      .toDF("doc_id", "text")
    val cont = graft.ops.Dedup.containmentSelfJoinExact(
        docs, "text", "doc_id", threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(cont.toSeq == Seq((1L, 2L, 1.0)), cont.toSeq)
    // the same pair clears no usable Jaccard threshold
    val jac = graft.ops.Dedup.jaccardSelfJoinExact(
        docs, "text", "doc_id", threshold = 0.8).collect()
    assert(jac.isEmpty, jac.toSeq)
  }
}
