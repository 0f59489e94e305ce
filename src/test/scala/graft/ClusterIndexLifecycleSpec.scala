package graft

import graft.ops.{Dedup, IndexLog, Similarity}

/** Lifecycle specs for the persisted cluster index's O(affected) append
  * and its [[IndexLog]] commits:
  *
  *   - an append must carry every UNTOUCHED verdict bucket's files over
  *     unchanged (path/length/mtime) — the proof that per-append cost is
  *     O(affected buckets), not O(corpus);
  *   - a crash before the commit (`<op>-after-staging`, a torn commit at
  *     `<op>-mid-commit`) leaves readers on exactly the previous
  *     verdicts, even when the op moves rows between buckets, and a
  *     retry of the same batch — after any failpoint, `-after-commit`
  *     included — converges to exactly the full-rebuild verdicts, with
  *     NO duplicate artifact rows;
  *   - a retry of an already-committed append is a silent no-op;
  *   - the driver union-find edge collect fails loud past
  *     spark.graft.dedup.appendEdgeCap;
  *   - the whole lifecycle (cluster index and IVF index) works with the
  *     index root addressed through the Hadoop FileSystem API as a
  *     file:// URI — the local-FS stand-in for an hdfs:// root.
  */
class ClusterIndexLifecycleSpec extends SparkTestBase {
  import spark.implicits._

  /** ~10-token docs built so that sharing the first 9 tokens puts
    * 3-shingle Jaccard at 7/9 ≈ 0.78 (>= the 0.7 threshold) while
    * distinct prefixes share nothing. */
  private def doc(prefix: String, last: String): String =
    ((0 until 9).map(i => s"$prefix$i") :+ last).mkString(" ")

  private val thr = 0.7

  /** The head's verdict rows, one tuple per row (a doc read twice
    * would collapse here — [[verdictRows]] keeps the multiset). */
  private def readVerdicts(path: String): Set[(Long, Long, Long, Double, Boolean)] =
    verdictRows(path).toSet

  private def verdictRows(path: String): Seq[(Long, Long, Long, Double, Boolean)] =
    IndexLog.snapshot(spark, path).frame("verdicts")
      .select("doc_id", "canon_id", "cluster_size", "score", "keep")
      .collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getBoolean(4)))

  /** The head's verdict files: relative path -> (bucket, length, mtime),
    * each checked against the file on disk. */
  private def verdictFiles(idx: String): Map[String, (String, Long, Long)] =
    IndexLog.snapshot(spark, idx).table("verdicts").files.map { f =>
      val onDisk = new java.io.File(s"$idx/${f.path}")
      assert(onDisk.length() == f.size && onDisk.lastModified() == f.mtime,
        s"listed file ${f.path} changed on disk")
      f.path -> (f.cell.get, f.size, f.mtime)
    }.toMap

  /** Write directories under `$idx/$table` (listed or not). */
  private def writeDirs(idx: String, table: String): Set[String] =
    Option(new java.io.File(s"$idx/$table").list()).map(_.toSet)
      .getOrElse(Set.empty)

  /** No table of the index holds a data file its head does not list. */
  private def noLeftovers(idx: String): Boolean =
    Seq("verdicts", "shingles", "prefix", "dfreq")
      .forall(IndexFsProbe.unlisted(spark, idx, _).isEmpty)

  private def crashAt(point: String)(op: => Unit): Unit = {
    IndexLog.crashPoint = Some(point)
    try {
      val ex = intercept[IllegalStateException](op)
      assert(ex.getMessage.contains(point), ex.getMessage)
    } finally IndexLog.crashPoint = None
  }

  test("append rewrites ONLY affected buckets: untouched bucket files byte-identical") {
    // ten singleton clusters, labels 0..9 -> buckets 0..9 of 16; the
    // batch doc near-dups doc 4 only, so bucket 4 is the single
    // affected bucket and every other bucket's files must not move
    val corpus = (0 until 10).map(i => (i.toLong, doc(s"c${i}x", s"t$i")))
      .toDF("doc_id", "text")
    val idx = java.nio.file.Files.createTempDirectory("clidx-bytes").toString
    Dedup.buildClusterIndex(corpus, idx, threshold = thr)
    val before = verdictFiles(idx)
    assert((0 until 10).forall(k =>
      before.values.exists(_._1 == k.toString)), s"fixture: ${before.keys}")
    Dedup.appendToClusterIndex(spark, idx,
      Seq((20L, doc("c4x", "zz"))).toDF("doc_id", "text"))
    val after = verdictFiles(idx)
    def bucket4(fs: Map[String, (String, Long, Long)]) = fs.filter(_._2._1 == "4")
    val beforeUntouched = before -- bucket4(before).keys
    val afterUntouched = after -- bucket4(after).keys
    assert(afterUntouched == beforeUntouched,
      s"untouched buckets moved:\n before=$beforeUntouched\n after=$afterUntouched")
    assert(bucket4(after).nonEmpty &&
      bucket4(after).keySet.intersect(bucket4(before).keySet).isEmpty,
      "the affected bucket must actually have been rewritten")
    // and the verdicts equal a full rebuild
    val rebuilt = java.nio.file.Files.createTempDirectory("clidx-bytes-rb").toString
    Dedup.buildClusterIndex(
      corpus.union(Seq((20L, doc("c4x", "zz"))).toDF("doc_id", "text")),
      rebuilt, threshold = thr)
    assert(readVerdicts(idx) == readVerdicts(rebuilt))
    // the replaced bucket's old files are deleted with the commit; the
    // commit records the appended batch's op id
    assert(noLeftovers(idx))
    assert(IndexLog.snapshot(spark, idx).ops.size == 1)
    Seq(idx, rebuilt).foreach(d =>
      graft.TmpDirs.deleteRecursively(new java.io.File(d)))
  }

  test("a merge that EMPTIES a bucket retires its live dir (staged=0 path)") {
    // cluster {100, 101} (label 100 -> bucket 4 of 16 after append is
    // MERGED under batch id 3 -> bucket 3); fillers keep other buckets
    // occupied. Bucket 4 must end absent, bucket 3 holds the merged
    // cluster, and the result equals a full rebuild.
    val corpus = Seq(
      (100L, doc("ax", "t0")), (101L, doc("ax", "t1")),
      (16L, doc("f0x", "u0")), (17L, doc("f1x", "u1")), (18L, doc("f2x", "u2")))
      .toDF("doc_id", "text")
    val idx = java.nio.file.Files.createTempDirectory("clidx-empty").toString
    Dedup.buildClusterIndex(corpus, idx, threshold = thr)
    assert(verdictFiles(idx).values.exists(_._1 == "4"))
    val batch = Seq((3L, doc("ax", "t2"))).toDF("doc_id", "text")
    Dedup.appendToClusterIndex(spark, idx, batch)
    assert(!verdictFiles(idx).values.exists(_._1 == "4"),
      "the emptied bucket's files must be dropped from the commit")
    assert(noLeftovers(idx), "the emptied bucket's files must be deleted")
    val rebuilt = java.nio.file.Files.createTempDirectory("clidx-empty-rb").toString
    Dedup.buildClusterIndex(corpus.union(batch), rebuilt, threshold = thr)
    assert(readVerdicts(idx) == readVerdicts(rebuilt))
    val labels = readVerdicts(idx).map(t => t._1 -> t._2).toMap
    assert(labels(100L) == 3L && labels(101L) == 3L && labels(3L) == 3L)
    Seq(idx, rebuilt).foreach(d =>
      graft.TmpDirs.deleteRecursively(new java.io.File(d)))
  }

  test("snapshot-consistent reads: an append that moves rows between buckets, crashed between its bucket writes, leaves readers on the pre-append verdicts") {
    // cluster {100, 101} (label 100, bucket 4) merges under batch id 3
    // (bucket 3): the append rewrites bucket 3 with the relabelled rows
    // and empties bucket 4. Crashed after those writes, before (or
    // while writing) its commit, a reader must see every doc exactly
    // once, with its pre-append verdict — never a relabelled row twice
    // or missing
    val corpus = Seq(
      (100L, doc("ax", "t0")), (101L, doc("ax", "t1")),
      (16L, doc("f0x", "u0")), (17L, doc("f1x", "u1")))
      .toDF("doc_id", "text")
    val batch = Seq((3L, doc("ax", "t2"))).toDF("doc_id", "text")
    val rebuilt = java.nio.file.Files.createTempDirectory("clidx-snap-rb").toString
    Dedup.buildClusterIndex(corpus.union(batch), rebuilt, threshold = thr)
    Seq("clusterapp-after-staging", "clusterapp-mid-commit").foreach { point =>
      val idx = java.nio.file.Files.createTempDirectory("clidx-snap").toString
      Dedup.buildClusterIndex(corpus, idx, threshold = thr)
      val before = verdictRows(idx).sorted
      assert(before.map(_._1) == Seq(16L, 17L, 100L, 101L))
      crashAt(point)(Dedup.appendToClusterIndex(spark, idx, batch))
      assert(verdictRows(idx).sorted == before, s"$point: a reader saw a partial append")
      Dedup.appendToClusterIndex(spark, idx, batch)
      assert(verdictRows(idx).sorted == verdictRows(rebuilt).sorted, s"$point: the retry diverged")
      graft.TmpDirs.deleteRecursively(new java.io.File(idx))
    }
    graft.TmpDirs.deleteRecursively(new java.io.File(rebuilt))
  }

  test("crash at every failpoint, then retry: converges to the rebuild, no duplicate artifacts") {
    val corpus = Seq(
      (100L, doc("ax", "t0")), (101L, doc("ax", "t1")),
      (7L, doc("bx", "u0")), (8L, doc("cx", "v0")))
      .toDF("doc_id", "text")
    // the batch bridges nothing but joins cluster {100,101} AND brings
    // a batch-internal pair — exercises cross and self edges
    val batch = Seq(
      (200L, doc("ax", "t2")),
      (201L, doc("dx", "w0")), (202L, doc("dx", "w1")))
      .toDF("doc_id", "text")
    val rebuilt = java.nio.file.Files.createTempDirectory("clidx-crash-rb").toString
    Dedup.buildClusterIndex(corpus.union(batch), rebuilt, threshold = thr)
    val want = readVerdicts(rebuilt)
    Seq("clusterapp-after-staging", "clusterapp-mid-commit",
      "clusterapp-after-commit").foreach { point =>
      val idx = java.nio.file.Files.createTempDirectory(s"clidx-crash").toString
      Dedup.buildClusterIndex(corpus, idx, threshold = thr)
      crashAt(point)(Dedup.appendToClusterIndex(spark, idx, batch))
      // retry of the SAME batch converges
      Dedup.appendToClusterIndex(spark, idx, batch)
      assert(readVerdicts(idx) == want, s"failpoint $point diverged")
      // idempotent artifacts: exactly one shingle row per doc id
      val shCounts = IndexLog.snapshot(spark, idx).frame("shingles")
        .groupBy($"__mid").count().filter($"count" > 1).collect()
      assert(shCounts.isEmpty,
        s"failpoint $point left duplicate artifact rows: ${shCounts.toSeq}")
      // a FURTHER retry of the committed batch is a silent no-op
      Dedup.appendToClusterIndex(spark, idx, batch)
      assert(readVerdicts(idx) == want)
      graft.TmpDirs.deleteRecursively(new java.io.File(idx))
    }
    graft.TmpDirs.deleteRecursively(new java.io.File(rebuilt))
  }

  test("driver union-find edge collect fails loud past spark.graft.dedup.appendEdgeCap") {
    val corpus = Seq((1L, doc("ax", "t0")), (2L, doc("bx", "u0")))
      .toDF("doc_id", "text")
    val idx = java.nio.file.Files.createTempDirectory("clidx-cap").toString
    Dedup.buildClusterIndex(corpus, idx, threshold = thr)
    // two cross edges (one per corpus cluster) against a cap of 1
    val batch = Seq((11L, doc("ax", "t0")), (12L, doc("bx", "u0")))
      .toDF("doc_id", "text")
    withSQLConf("spark.graft.dedup.appendEdgeCap" -> "1") {
      val ex = intercept[IllegalArgumentException] {
        Dedup.appendToClusterIndex(spark, idx, batch)
      }
      assert(ex.getMessage.contains("spark.graft.dedup.appendEdgeCap"),
        ex.getMessage)
    }
    // with the default cap the same batch lands fine (the failed
    // attempt's artifacts were idempotently overwritten on retry)
    Dedup.appendToClusterIndex(spark, idx, batch)
    val labels = readVerdicts(idx).map(t => t._1 -> t._2).toMap
    assert(labels(11L) == 1L && labels(12L) == 2L)
    graft.TmpDirs.deleteRecursively(new java.io.File(idx))
  }

  test("cluster-index lifecycle through a file:// URI root (Hadoop FS path)") {
    val local = java.nio.file.Files.createTempDirectory("clidx-uri").toString
    val idx = s"file://$local"
    val corpus = Seq(
      (100L, doc("ax", "t0")), (101L, doc("ax", "t1")), (7L, doc("bx", "u0")))
      .toDF("doc_id", "text")
    Dedup.buildClusterIndex(corpus, idx, threshold = thr)
    Dedup.appendToClusterIndex(spark, idx,
      Seq((200L, doc("ax", "t2"))).toDF("doc_id", "text"))
    val rebuilt = java.nio.file.Files.createTempDirectory("clidx-uri-rb").toString
    Dedup.buildClusterIndex(
      corpus.union(Seq((200L, doc("ax", "t2"))).toDF("doc_id", "text")),
      rebuilt, threshold = thr)
    assert(readVerdicts(idx) == readVerdicts(rebuilt))
    Seq(local, rebuilt).foreach(d =>
      graft.TmpDirs.deleteRecursively(new java.io.File(d)))
  }

  /** Overlapping token windows over one shared sequence: A=t0..t9,
    * M=t2..t11, B=t4..t13. At 3-shingles, J(A,M)=J(M,B)=6/10=0.6 and
    * J(A,B)=4/12=1/3 — so at threshold 0.5, M BRIDGES A and B. */
  private def chainDoc(lo: Int, hi: Int): String =
    (lo to hi).map(i => s"t$i").mkString(" ")

  test("delete of a bridge doc SPLITS the cluster and equals the full rebuild") {
    val corpus = Seq(
      (1L, chainDoc(0, 9)), (2L, chainDoc(2, 11)), (3L, chainDoc(4, 13)),
      (7L, doc("fx", "u0")), (8L, doc("gx", "v0")))
      .toDF("doc_id", "text")
    val idx = java.nio.file.Files.createTempDirectory("clidx-del-split").toString
    Dedup.buildClusterIndex(corpus, idx, threshold = 0.5)
    // fixture sanity: {1,2,3} is ONE cluster through the bridge
    val before = readVerdicts(idx).map(t => t._1 -> t._2).toMap
    assert(before(1L) == 1L && before(2L) == 1L && before(3L) == 1L, before)
    val stampsBefore = verdictFiles(idx)
    Dedup.deleteFromClusterIndex(spark, idx, Seq(2L).toDF("doc_id"))
    // the cluster split: A and B are singletons again
    val after = readVerdicts(idx)
    val labels = after.map(t => t._1 -> t._2).toMap
    assert(!labels.contains(2L), "deleted doc still has a verdict row")
    assert(labels(1L) == 1L && labels(3L) == 3L, labels)
    assert(after.filter(t => Set(1L, 3L)(t._1))
      .forall(t => t._3 == 1L && t._5), after)
    // row-identity with the full rebuild over corpus minus the bridge
    val rebuilt = java.nio.file.Files.createTempDirectory("clidx-del-rb").toString
    Dedup.buildClusterIndex(corpus.filter($"doc_id" =!= 2L), rebuilt,
      threshold = 0.5)
    assert(readVerdicts(idx) == readVerdicts(rebuilt))
    // O(affected buckets): only buckets 1 (labels 1 and old cluster) and
    // 3 (the split-off label) may move; 7 and 8's files carry over
    val touched = Set("1", "3")
    val stampsAfter = verdictFiles(idx)
    assert(stampsAfter.filterNot(s => touched(s._2._1)) ==
      stampsBefore.filterNot(s => touched(s._2._1)),
      "untouched buckets moved")
    Seq(idx, rebuilt).foreach(d =>
      graft.TmpDirs.deleteRecursively(new java.io.File(d)))
  }

  test("delete crash at every failpoint, then retry: converges; committed retry no-op; re-append works") {
    val corpus = Seq(
      (1L, chainDoc(0, 9)), (2L, chainDoc(2, 11)), (3L, chainDoc(4, 13)),
      (7L, doc("fx", "u0")))
      .toDF("doc_id", "text")
    val rebuilt = java.nio.file.Files.createTempDirectory("clidx-delc-rb").toString
    Dedup.buildClusterIndex(corpus.filter($"doc_id" =!= 2L), rebuilt,
      threshold = 0.5)
    val want = readVerdicts(rebuilt)
    Seq("clusterdel-after-staging", "clusterdel-mid-commit",
      "clusterdel-after-commit").foreach { point =>
      val idx = java.nio.file.Files.createTempDirectory("clidx-delc").toString
      Dedup.buildClusterIndex(corpus, idx, threshold = 0.5)
      crashAt(point)(Dedup.deleteFromClusterIndex(spark, idx, Seq(2L).toDF("doc_id")))
      Dedup.deleteFromClusterIndex(spark, idx, Seq(2L).toDF("doc_id"))
      assert(readVerdicts(idx) == want, s"failpoint $point diverged")
      // a FURTHER retry of the committed delete is a silent no-op
      Dedup.deleteFromClusterIndex(spark, idx, Seq(2L).toDF("doc_id"))
      assert(readVerdicts(idx) == want)
      // a deleted id may be RE-APPENDED (live-verdict check only), and
      // the lifecycle converges back to the full-corpus rebuild
      Dedup.appendToClusterIndex(spark, idx,
        Seq((2L, chainDoc(2, 11))).toDF("doc_id", "text"))
      val full = java.nio.file.Files.createTempDirectory("clidx-delc-f").toString
      Dedup.buildClusterIndex(corpus, full, threshold = 0.5)
      assert(readVerdicts(idx) == readVerdicts(full), s"re-append after $point")
      Seq(idx, full).foreach(d =>
        graft.TmpDirs.deleteRecursively(new java.io.File(d)))
    }
    graft.TmpDirs.deleteRecursively(new java.io.File(rebuilt))
  }

  test("delete that would EMPTY the index fails loud (unreadable-dir guard)") {
    val corpus = Seq((1L, doc("ax", "t0")), (2L, doc("bx", "u0")))
      .toDF("doc_id", "text")
    val idx = java.nio.file.Files.createTempDirectory("clidx-del-all").toString
    Dedup.buildClusterIndex(corpus, idx, threshold = thr)
    val ex = intercept[IllegalArgumentException] {
      Dedup.deleteFromClusterIndex(spark, idx, Seq(1L, 2L).toDF("doc_id"))
    }
    assert(ex.getMessage.contains("would empty the index"), ex.getMessage)
    // the refusal left the index untouched and servable
    assert(readVerdicts(idx).map(_._1) == Set(1L, 2L))
    Dedup.deleteFromClusterIndex(spark, idx, Seq(1L).toDF("doc_id"))
    assert(readVerdicts(idx).map(_._1) == Set(2L))
    graft.TmpDirs.deleteRecursively(new java.io.File(idx))
  }

  test("delete fails loud on a non-indexed id; member cap fails loud") {
    val corpus = Seq((1L, doc("ax", "t0")), (2L, doc("ax", "t1")))
      .toDF("doc_id", "text")
    val idx = java.nio.file.Files.createTempDirectory("clidx-del-req").toString
    Dedup.buildClusterIndex(corpus, idx, threshold = thr)
    val ex = intercept[IllegalArgumentException] {
      Dedup.deleteFromClusterIndex(spark, idx, Seq(99L).toDF("doc_id"))
    }
    assert(ex.getMessage.contains("not indexed"), ex.getMessage)
    withSQLConf("spark.graft.dedup.deleteMemberCap" -> "0") {
      val ex2 = intercept[IllegalArgumentException] {
        Dedup.deleteFromClusterIndex(spark, idx, Seq(1L).toDF("doc_id"))
      }
      assert(ex2.getMessage.contains("spark.graft.dedup.deleteMemberCap"),
        ex2.getMessage)
    }
    // with defaults the same delete lands
    Dedup.deleteFromClusterIndex(spark, idx, Seq(1L).toDF("doc_id"))
    assert(readVerdicts(idx).map(_._1) == Set(2L))
    graft.TmpDirs.deleteRecursively(new java.io.File(idx))
  }

  test("gcClusterIndex reclaims orphan artifact partitions, never committed ones") {
    val corpus = Seq((1L, doc("ax", "t0")), (2L, doc("bx", "u0")))
      .toDF("doc_id", "text")
    val idx = java.nio.file.Files.createTempDirectory("clidx-gc").toString
    Dedup.buildClusterIndex(corpus, idx, threshold = thr)
    // one COMMITTED append, then one append CRASHED right after its
    // files landed and never retried — the orphans gc exists for
    Dedup.appendToClusterIndex(spark, idx,
      Seq((10L, doc("ax", "t1"))).toDF("doc_id", "text"))
    crashAt("clusterapp-after-staging")(Dedup.appendToClusterIndex(spark, idx,
      Seq((11L, doc("bx", "u1"))).toDF("doc_id", "text")))
    assert(writeDirs(idx, "shingles").size == 3 && writeDirs(idx, "prefix").size == 3,
      s"fixture: ${writeDirs(idx, "shingles")}") // build + committed + orphan
    val verdictsBefore = readVerdicts(idx)
    Dedup.gcClusterIndex(spark, idx)
    // the orphan writes are gone; build + committed remain; verdicts
    // untouched; and the index still appends fine afterwards
    assert(writeDirs(idx, "shingles").size == 2 && writeDirs(idx, "prefix").size == 2,
      s"after gc: ${writeDirs(idx, "shingles")}")
    assert(noLeftovers(idx))
    assert(readVerdicts(idx) == verdictsBefore)
    Dedup.appendToClusterIndex(spark, idx,
      Seq((11L, doc("bx", "u1"))).toDF("doc_id", "text"))
    val labels = readVerdicts(idx).map(t => t._1 -> t._2).toMap
    assert(labels(10L) == 1L && labels(11L) == 2L, labels)
    graft.TmpDirs.deleteRecursively(new java.io.File(idx))
  }

  test("gcClusterIndex rolls a journaled append FORWARD before sweeping") {
    val corpus = Seq((1L, doc("ax", "t0"))).toDF("doc_id", "text")
    val idx = java.nio.file.Files.createTempDirectory("clidx-gc-fwd").toString
    Dedup.buildClusterIndex(corpus, idx, threshold = thr)
    val before = readVerdicts(idx)
    // crash while writing the commit: every file landed, the commit is
    // torn, so the append is unapplied until retried — gc reaps its
    // files instead of finishing it
    val batch = Seq((5L, doc("ax", "t1"))).toDF("doc_id", "text")
    crashAt("clusterapp-mid-commit")(Dedup.appendToClusterIndex(spark, idx, batch))
    Dedup.gcClusterIndex(spark, idx)
    assert(readVerdicts(idx) == before)
    assert(writeDirs(idx, "shingles").size == 1, writeDirs(idx, "shingles"))
    // the retry replaces the torn commit and applies the append
    Dedup.appendToClusterIndex(spark, idx, batch)
    val labels = readVerdicts(idx).map(t => t._1 -> t._2).toMap
    assert(labels(5L) == 1L, labels)
    assert(writeDirs(idx, "shingles").size == 2) // build + the retried append
    graft.TmpDirs.deleteRecursively(new java.io.File(idx))
  }

  test("gc after an append crashed past its commit deletes the replaced bucket files; verdicts unchanged") {
    // ten singleton clusters in buckets 0..9; the batch doc joins doc 4,
    // so the append replaces bucket 4's files. Crashed right after its
    // commit, it never deleted them: they sit, unlisted, in the build's
    // still-listed write directory until gc runs
    val corpus = (0 until 10).map(i => (i.toLong, doc(s"c${i}x", s"t$i")))
      .toDF("doc_id", "text")
    val idx = java.nio.file.Files.createTempDirectory("clidx-gc-commit").toString
    Dedup.buildClusterIndex(corpus, idx, threshold = thr)
    val replaced = verdictFiles(idx).filter(_._2._1 == "4").keys.toSeq
    assert(replaced.nonEmpty, "fixture: bucket 4 holds no file")
    crashAt("clusterapp-after-commit")(Dedup.appendToClusterIndex(spark, idx,
      Seq((20L, doc("c4x", "zz"))).toDF("doc_id", "text")))
    assert(replaced.forall(p => new java.io.File(s"$idx/$p").exists()) &&
      !noLeftovers(idx), "fixture: the crash left no replaced file behind")
    val verdictsAfterCommit = verdictRows(idx).sorted
    Dedup.gcClusterIndex(spark, idx)
    assert(replaced.forall(p => !new java.io.File(s"$idx/$p").exists()),
      "gc left a replaced bucket file on disk")
    assert(noLeftovers(idx))
    assert(verdictRows(idx).sorted == verdictsAfterCommit)
    graft.TmpDirs.deleteRecursively(new java.io.File(idx))
  }

  test("commit markers are liveness-gated: delete -> re-append -> delete-again executes (and the mirror)") {
    // the recorded op id alone is STALE across the inverse op: the
    // first delete's op id must not swallow the second delete after a
    // re-append (a repeated single-id takedown), and the first append's
    // op id must not swallow a re-append of the exact same batch after
    // a delete. Both directions, pinned against rebuilds.
    val corpus = Seq((1L, doc("ax", "t0")), (2L, doc("bx", "u0")))
      .toDF("doc_id", "text")
    val idx = java.nio.file.Files.createTempDirectory("clidx-liveness").toString
    Dedup.buildClusterIndex(corpus, idx, threshold = thr)
    val batch = Seq((5L, doc("ax", "t9"))).toDF("doc_id", "text")
    Dedup.appendToClusterIndex(spark, idx, batch) // op id append{5} recorded
    assert(readVerdicts(idx).map(_._1) == Set(1L, 2L, 5L))
    Dedup.deleteFromClusterIndex(spark, idx, Seq(5L).toDF("doc_id")) // op id del:5 recorded
    assert(readVerdicts(idx).map(_._1) == Set(1L, 2L))
    // re-append the EXACT same batch: append op id recorded but 5 is
    // dead — must execute, not silently no-op
    Dedup.appendToClusterIndex(spark, idx, batch)
    val labels = readVerdicts(idx).map(t => t._1 -> t._2).toMap
    assert(labels.keySet == Set(1L, 2L, 5L) && labels(5L) == 1L,
      s"re-append after delete silently no-opped: $labels")
    // delete AGAIN: delete op id recorded but 5 is live — must execute
    Dedup.deleteFromClusterIndex(spark, idx, Seq(5L).toDF("doc_id"))
    assert(readVerdicts(idx).map(_._1) == Set(1L, 2L),
      "second delete of a re-appended id silently no-opped")
    // and the surviving index equals the rebuild over {1,2}
    val rebuilt = java.nio.file.Files.createTempDirectory("clidx-liveness-rb").toString
    Dedup.buildClusterIndex(corpus, rebuilt, threshold = thr)
    assert(readVerdicts(idx) == readVerdicts(rebuilt))
    // true committed-retry no-ops still hold at the final state
    Dedup.deleteFromClusterIndex(spark, idx, Seq(5L).toDF("doc_id"))
    assert(readVerdicts(idx) == readVerdicts(rebuilt))
    Seq(idx, rebuilt).foreach(d =>
      graft.TmpDirs.deleteRecursively(new java.io.File(d)))
  }

  test("stale marker with PARTIALLY live ids fails loud, both ops") {
    val corpus = Seq((1L, doc("ax", "t0"))).toDF("doc_id", "text")
    val idx = java.nio.file.Files.createTempDirectory("clidx-mixed").toString
    Dedup.buildClusterIndex(corpus, idx, threshold = thr)
    val batch = Seq((10L, doc("bx", "u0")), (11L, doc("cx", "v0")))
      .toDF("doc_id", "text")
    Dedup.appendToClusterIndex(spark, idx, batch)
    Dedup.deleteFromClusterIndex(spark, idx, Seq(10L).toDF("doc_id"))
    // append{10,11}'s op id is recorded; 11 live, 10 dead -> ambiguous
    // partial state must fail loud on the live id, not no-op or re-add
    val ex = intercept[IllegalArgumentException] {
      Dedup.appendToClusterIndex(spark, idx, batch)
    }
    assert(ex.getMessage.contains("already-indexed"), ex.getMessage)
    // mirror: delete{10,11} when both live, re-append {10} only, then
    // retry the delete -> 11 is dead -> loud not-indexed
    Dedup.appendToClusterIndex(spark, idx,
      Seq((10L, doc("bx", "u1"))).toDF("doc_id", "text"))
    Dedup.deleteFromClusterIndex(spark, idx, Seq(10L, 11L).toDF("doc_id"))
    Dedup.appendToClusterIndex(spark, idx,
      Seq((10L, doc("bx", "u2"))).toDF("doc_id", "text"))
    val ex2 = intercept[IllegalArgumentException] {
      Dedup.deleteFromClusterIndex(spark, idx, Seq(10L, 11L).toDF("doc_id"))
    }
    assert(ex2.getMessage.contains("not indexed"), ex2.getMessage)
    graft.TmpDirs.deleteRecursively(new java.io.File(idx))
  }

  test("re-append after delete with CHANGED text verifies against the new artifacts") {
    // doc 3 is built as a near-dup of cluster A, deleted, then
    // re-appended as a near-dup of cluster B. Its STALE shingle/prefix
    // artifact rows (the build's) stay behind — verification must
    // resolve to the re-appended arrays, or 3 would also re-cluster
    // with A (stale pair verifying TRUE) and diverge from the rebuild.
    val corpus = Seq(
      (1L, doc("ax", "t0")), (2L, doc("bx", "u0")), (3L, doc("ax", "t9")))
      .toDF("doc_id", "text")
    val idx = java.nio.file.Files.createTempDirectory("clidx-retext").toString
    Dedup.buildClusterIndex(corpus, idx, threshold = thr)
    assert(readVerdicts(idx).map(t => t._1 -> t._2).toMap.apply(3L) == 1L)
    Dedup.deleteFromClusterIndex(spark, idx, Seq(3L).toDF("doc_id"))
    val newText = doc("bx", "u9") // now a near-dup of B
    Dedup.appendToClusterIndex(spark, idx,
      Seq((3L, newText)).toDF("doc_id", "text"))
    val labels = readVerdicts(idx).map(t => t._1 -> t._2).toMap
    assert(labels(3L) == 2L && labels(1L) == 1L,
      s"stale artifacts won the verification: $labels")
    val rebuilt = java.nio.file.Files.createTempDirectory("clidx-retext-rb").toString
    Dedup.buildClusterIndex(
      Seq((1L, doc("ax", "t0")), (2L, doc("bx", "u0")), (3L, newText))
        .toDF("doc_id", "text"), rebuilt, threshold = thr)
    assert(readVerdicts(idx) == readVerdicts(rebuilt))
    Seq(idx, rebuilt).foreach(d =>
      graft.TmpDirs.deleteRecursively(new java.io.File(d)))
  }

  test("MinLabelUnionFind: iterative find survives a chain too deep for recursion") {
    val uf = new Dedup.MinLabelUnionFind
    val n = 300000
    // descending edge order builds the deepest parent chain link-by-min
    // can produce: every union links a fresh root under the next-lower
    // id, and no intermediate find ever walks (hence compresses) the
    // tail — the shape that overflowed the recursive find's stack
    ((n - 2) to 0 by -1).foreach(k => uf.union(k.toLong, (k + 1).toLong))
    assert(uf.find((n - 1).toLong) == 0L)
    assert((0 until n by 997).forall(i => uf.find(i.toLong) == 0L))
  }

  test("artifact compaction: report classifies all four kinds; compaction keeps exactly the resolved live rows; maintenance continues") {
    // dead: doc 4 deleted and never re-appended. shadowed: doc 3
    // deleted then re-appended with DIFFERENT text (its build-era rows
    // are superseded). orphan: an append crashed after its artifacts
    // landed and was never retried. live_current: everything serving.
    val corpus = Seq(
      (1L, doc("ax", "t0")), (2L, doc("bx", "u0")),
      (3L, doc("ax", "t9")), (4L, doc("dx", "v0")))
      .toDF("doc_id", "text")
    val idx = java.nio.file.Files.createTempDirectory("clidx-compact").toString
    Dedup.buildClusterIndex(corpus, idx, threshold = thr)
    Dedup.deleteFromClusterIndex(spark, idx, Seq(3L, 4L).toDF("doc_id"))
    Dedup.appendToClusterIndex(spark, idx,
      Seq((3L, doc("bx", "u9"))).toDF("doc_id", "text"))
    crashAt("clusterapp-after-staging")(Dedup.appendToClusterIndex(spark, idx,
      Seq((9L, doc("cx", "w0"))).toDF("doc_id", "text")))
    def shingleReport(): Map[String, Long] =
      Dedup.clusterIndexArtifactReport(spark, idx)
        .filter($"dir" === "shingles")
        .collect().map(r => r.getString(1) -> r.getLong(2)).toMap
    assert(shingleReport() == Map("live_current" -> 3L, "shadowed" -> 1L,
      "dead" -> 1L, "orphan" -> 1L), shingleReport())
    val verdictsBefore = readVerdicts(idx)
    Dedup.compactClusterIndexArtifacts(spark, idx)
    assert(shingleReport() == Map("live_current" -> 3L, "shadowed" -> 0L,
      "dead" -> 0L, "orphan" -> 0L), shingleReport())
    // physically: one row per live doc, all in the compaction's cell,
    // and no file left that the head does not list
    val head = IndexLog.snapshot(spark, idx)
    val sh = head.frame("shingles").select($"__mid", $"__app").collect()
    assert(sh.map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L) &&
      sh.map(_.getLong(1)).toSet == Set(head.version), sh.toSeq)
    assert(noLeftovers(idx))
    assert(readVerdicts(idx) == verdictsBefore, "compaction touched verdicts")
    // maintenance after compaction: verification resolves against the
    // consolidated arrays (3 re-clusters with 2 on a fresh probe), and
    // both halves of the lifecycle stay rebuild-identical
    Dedup.appendToClusterIndex(spark, idx,
      Seq((5L, doc("bx", "u8"))).toDF("doc_id", "text"))
    Dedup.deleteFromClusterIndex(spark, idx, Seq(1L).toDF("doc_id"))
    val rebuilt = java.nio.file.Files.createTempDirectory("clidx-compact-rb").toString
    Dedup.buildClusterIndex(
      Seq((2L, doc("bx", "u0")), (3L, doc("bx", "u9")), (5L, doc("bx", "u8")))
        .toDF("doc_id", "text"), rebuilt, threshold = thr)
    assert(readVerdicts(idx) == readVerdicts(rebuilt))
    Seq(idx, rebuilt).foreach(d =>
      graft.TmpDirs.deleteRecursively(new java.io.File(d)))
  }

  test("artifact compaction crash at every failpoint: recovery heals, retry converges") {
    val corpus = Seq(
      (1L, doc("ax", "t0")), (2L, doc("bx", "u0")), (3L, doc("ax", "t9")))
      .toDF("doc_id", "text")
    Seq("clustercompact-after-staging", "clustercompact-mid-commit",
      "clustercompact-after-commit")
      .foreach { point =>
        val idx = java.nio.file.Files.createTempDirectory("clidx-cc").toString
        Dedup.buildClusterIndex(corpus, idx, threshold = thr)
        Dedup.deleteFromClusterIndex(spark, idx, Seq(3L).toDF("doc_id"))
        Dedup.appendToClusterIndex(spark, idx,
          Seq((3L, doc("bx", "u9"))).toDF("doc_id", "text"))
        crashAt(point)(Dedup.compactClusterIndexArtifacts(spark, idx))
        // a maintenance op right after the crash reads the last
        // committed store and lands correctly
        Dedup.appendToClusterIndex(spark, idx,
          Seq((5L, doc("ax", "t8"))).toDF("doc_id", "text"))
        val rebuilt = java.nio.file.Files.createTempDirectory("clidx-cc-rb").toString
        Dedup.buildClusterIndex(
          Seq((1L, doc("ax", "t0")), (2L, doc("bx", "u0")),
            (3L, doc("bx", "u9")), (5L, doc("ax", "t8")))
            .toDF("doc_id", "text"), rebuilt, threshold = thr)
        assert(readVerdicts(idx) == readVerdicts(rebuilt),
          s"failpoint $point diverged")
        // and a compaction RETRY converges to the clean store
        Dedup.compactClusterIndexArtifacts(spark, idx)
        val rep = Dedup.clusterIndexArtifactReport(spark, idx)
          .filter($"kind" =!= "live_current")
          .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
        assert(rep.forall(_._3 == 0L), s"failpoint $point: $rep")
        Seq(idx, rebuilt).foreach(d =>
          graft.TmpDirs.deleteRecursively(new java.io.File(d)))
      }
  }

  test("randomized crash-interleaved lifecycle: any op sequence with injected crashes converges to the rebuild") {
    // the per-op failpoint specs cover each crash window in isolation;
    // this property covers their INTERLEAVINGS: a random sequence of
    // append / delete / compact / gc where each op may crash at a
    // random failpoint and then be RETRIED — or ABANDONED entirely.
    // An abandoned crash before the commit (rollback points) must leave
    // the op unapplied until retried; one after it (forward points)
    // leaves it applied. The index must stay row-identical to a
    // from-scratch rebuild over the driver-side mirror of the live
    // corpus (gc runs before each compare — itself a legit lifecycle
    // op). Re-appends of deleted ids carry NEW text, so artifact
    // resolution is exercised under churn too.
    val vocab = Seq("a", "b", "c", "d")
    def randText(rnd: scala.util.Random): String =
      Seq.fill(rnd.nextInt(16) + 4)(vocab(rnd.nextInt(vocab.length)))
        .mkString(" ")
    val appendRollback = Seq("clusterapp-after-staging", "clusterapp-mid-commit")
    val appendForward = Seq("clusterapp-after-commit")
    val deleteRollback = Seq("clusterdel-after-staging", "clusterdel-mid-commit")
    val deleteForward = Seq("clusterdel-after-commit")
    val compactPoints = Seq("clustercompact-after-staging",
      "clustercompact-mid-commit", "clustercompact-after-commit")
    for (seed <- Seq(11, 29)) {
      val rnd = new scala.util.Random(seed)
      var nextId = 0L
      def freshIds(n: Int): Seq[Long] = {
        val ids = (nextId until nextId + n); nextId += n; ids
      }
      val mirror = scala.collection.mutable.Map.empty[Long, String]
      val retired = scala.collection.mutable.Set.empty[Long]
      val idx = java.nio.file.Files.createTempDirectory(s"clidx-chaos-$seed").toString
      freshIds(20).foreach(i => mirror(i) = randText(rnd))
      Dedup.buildClusterIndex(mirror.toSeq.toDF("doc_id", "text"), idx,
        threshold = 0.5, nBuckets = 8)
      /** Runs op under one of: clean; crash+retry; crash+abandon.
        * Returns true iff the op is (eventually) APPLIED. */
      def runOp(rollback: Seq[String], forward: Seq[String])
          (op: => Unit): Boolean = rnd.nextInt(5) match {
        case 0 | 1 => op; true
        case 2 => // crash anywhere, then retry converges
          val all = rollback ++ forward
          crashAt(all(rnd.nextInt(all.length)))(op)
          op; true
        case 3 => // abandon before the commit: never applied
          crashAt(rollback(rnd.nextInt(rollback.length)))(op)
          false
        case 4 => // abandon after the commit: applied
          if (forward.isEmpty) { op; true }
          else { crashAt(forward(rnd.nextInt(forward.length)))(op); true }
      }
      (0 until 6).foreach { step =>
        rnd.nextInt(4) match {
          case 0 => // append: mix of fresh ids and deleted ids, new text
            val back = retired.toSeq.sorted.filter(_ => rnd.nextBoolean())
            val batch = (freshIds(rnd.nextInt(4) + 1) ++ back)
              .map(i => (i, randText(rnd)))
            val applied = runOp(appendRollback, appendForward) {
              Dedup.appendToClusterIndex(spark, idx,
                batch.toDF("doc_id", "text"))
            }
            if (applied) {
              retired --= back
              batch.foreach { case (i, t) => mirror(i) = t }
            }
          case 1 => // delete a random proper subset of the live docs
            val dels = mirror.keys.toSeq.sorted.filter(_ => rnd.nextInt(3) == 0)
            if (dels.nonEmpty && dels.size < mirror.size) {
              val applied = runOp(deleteRollback, deleteForward) {
                Dedup.deleteFromClusterIndex(spark, idx, dels.toDF("doc_id"))
              }
              if (applied) dels.foreach { i => mirror -= i; retired += i }
            }
          case 2 => // compact is state-neutral: applied-or-not is moot
            runOp(compactPoints, Nil) {
              Dedup.compactClusterIndexArtifacts(spark, idx)
            }
          case 3 =>
            Dedup.gcClusterIndex(spark, idx)
        }
        if (step % 2 == 1 || step == 5) {
          Dedup.gcClusterIndex(spark, idx)
          val rb = java.nio.file.Files.createTempDirectory(s"clidx-chaos-rb").toString
          Dedup.buildClusterIndex(mirror.toSeq.toDF("doc_id", "text"), rb,
            threshold = 0.5, nBuckets = 8)
          assert(readVerdicts(idx) == readVerdicts(rb),
            s"seed=$seed step=$step diverged from rebuild " +
              s"(live=${mirror.keys.toSeq.sorted})")
          graft.TmpDirs.deleteRecursively(new java.io.File(rb))
        }
      }
      graft.TmpDirs.deleteRecursively(new java.io.File(idx))
    }
  }

  test("IVF append refuses an intra-batch duplicate id loud") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val idx = java.nio.file.Files.createTempDirectory("ivf-batchdup").toString
    Similarity.buildIvfIndex(emb.filter($"vec_id" % 7 =!= 0), idx, kClusters = 8)
    val fresh = emb.filter($"vec_id" % 7 === 0).limit(4)
    val e = intercept[IllegalArgumentException] {
      Similarity.appendToIvfIndex(spark, idx, fresh.union(fresh.limit(1)))
    }
    assert(e.getMessage.contains("duplicate"), e.getMessage)
    // the refusal left the corpus unchanged: the clean batch still appends
    val before = new Similarity.IvfIndexReader(spark, idx).stored.count()
    Similarity.appendToIvfIndex(spark, idx, fresh)
    assert(new Similarity.IvfIndexReader(spark, idx).stored.count() ==
      before + fresh.count())
    graft.TmpDirs.deleteRecursively(new java.io.File(idx))
  }

  test("IVF delete/compact/rebuild through a file:// URI root (Hadoop FS path)") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val local = java.nio.file.Files.createTempDirectory("ivf-uri").toString
    val idx = s"file://$local"
    Similarity.buildIvfIndex(emb, idx, kClusters = 8)
    Similarity.deleteFromIvfIndex(spark, idx,
      emb.filter($"vec_id" % 11 === 5).select($"vec_id"))
    Similarity.compactIvfIndex(spark, idx)
    val afterCompact = new Similarity.IvfIndexReader(spark, idx).stored.count()
    val expected = emb.filter(!($"vec_id" % 11 === 5)).count()
    assert(afterCompact == expected)
    assert(!graft.ops.IndexLog.snapshot(spark, idx).tables.contains("tombstones") &&
      IndexFsProbe.allFiles(spark, s"$idx/tombstones").forall(!_.endsWith(".parquet")))
    Similarity.deleteFromIvfIndex(spark, idx,
      emb.filter($"vec_id" % 13 === 2).select($"vec_id"))
    Similarity.rebuildIvfIndex(spark, idx)
    val afterRebuild = new Similarity.IvfIndexReader(spark, idx).stored.count()
    assert(afterRebuild ==
      emb.filter(!($"vec_id" % 11 === 5) && !($"vec_id" % 13 === 2)).count())
    assert(!graft.ops.IndexLog.snapshot(spark, idx).tables.contains("tombstones") &&
      IndexFsProbe.allFiles(spark, s"$idx/tombstones").forall(!_.endsWith(".parquet")))
    // serve still answers through the URI root
    val res = Similarity.ivfTopKFromIndex(spark, idx,
      emb.filter($"vec_id" % 100 === 0), k = 3, nProbe = 2)
    assert(res.count() > 0)
    graft.TmpDirs.deleteRecursively(new java.io.File(local))
  }
}
