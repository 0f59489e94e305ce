package graft

import graft.ops.{Dedup, Similarity}
import org.apache.spark.sql.functions._

/** Lifecycle specs for the persisted cluster index's O(affected) append
  * and the Hadoop-FS-routed index swaps:
  *
  *   - an append must leave every UNTOUCHED verdict bucket's files
  *     byte-identical (name/length/mtime) — the proof that per-append
  *     cost is O(affected buckets), not O(corpus);
  *   - a crash at ANY failpoint (after artifacts, after staging, after
  *     the journal intent, mid-swap) followed by a retry of the same
  *     batch converges to exactly the full-rebuild verdicts, with NO
  *     duplicate artifact rows (the idempotent per-append partitions);
  *   - a retry of an already-committed append is a silent no-op;
  *   - the driver union-find edge collect fails loud past
  *     spark.graft.dedup.appendEdgeCap;
  *   - the whole lifecycle (cluster index and IVF index) works with the
  *     index root addressed through the Hadoop FileSystem API as a
  *     file:// URI — the local-FS stand-in for an hdfs:// root.
  */
class ClusterIndexLifecycleSpec extends SparkTestBase {
  import spark.implicits._
  import scala.jdk.CollectionConverters._

  /** ~10-token docs built so that sharing the first 9 tokens puts
    * 3-shingle Jaccard at 7/9 ≈ 0.78 (>= the 0.7 threshold) while
    * distinct prefixes share nothing. */
  private def doc(prefix: String, last: String): String =
    ((0 until 9).map(i => s"$prefix$i") :+ last).mkString(" ")

  private val thr = 0.7

  private def readVerdicts(path: String): Set[(Long, Long, Long, Double, Boolean)] =
    spark.read.parquet(s"$path/verdicts")
      .select("doc_id", "canon_id", "cluster_size", "score", "keep")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getBoolean(4))).toSet

  /** (relative path -> (length, mtime)) for every file under dir. */
  private def fileStamps(dir: String): Map[String, (Long, Long)] = {
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(root)) return Map.empty
    val walk = java.nio.file.Files.walk(root)
    try walk.iterator().asScala
      .filter(java.nio.file.Files.isRegularFile(_))
      .map(p => root.relativize(p).toString ->
        (java.nio.file.Files.size(p),
          java.nio.file.Files.getLastModifiedTime(p).toMillis))
      .toMap
    finally walk.close()
  }

  test("append rewrites ONLY affected buckets: untouched bucket files byte-identical") {
    // ten singleton clusters, labels 0..9 -> buckets 0..9 of 16; the
    // batch doc near-dups doc 4 only, so bucket 4 is the single
    // affected bucket and every other bucket's files must not move
    val corpus = (0 until 10).map(i => (i.toLong, doc(s"c${i}x", s"t$i")))
      .toDF("doc_id", "text")
    val idx = java.nio.file.Files.createTempDirectory("clidx-bytes").toString
    Dedup.buildClusterIndex(corpus, idx, threshold = thr)
    val before = fileStamps(s"$idx/verdicts")
    assert((0 until 10).forall(k =>
      before.keys.exists(_.startsWith(s"vb=$k/"))), s"fixture: ${before.keys}")
    Dedup.appendToClusterIndex(spark, idx,
      Seq((20L, doc("c4x", "zz"))).toDF("doc_id", "text"))
    val after = fileStamps(s"$idx/verdicts")
    val beforeUntouched = before.filterNot(_._1.startsWith("vb=4/"))
    val afterUntouched = after.filterNot(_._1.startsWith("vb=4/"))
    assert(afterUntouched == beforeUntouched,
      s"untouched buckets moved:\n before=$beforeUntouched\n after=$afterUntouched")
    assert(after.keys.exists(_.startsWith("vb=4/")) &&
      after.filter(_._1.startsWith("vb=4/")) != before.filter(_._1.startsWith("vb=4/")),
      "the affected bucket must actually have been rewritten")
    // and the verdicts equal a full rebuild
    val rebuilt = java.nio.file.Files.createTempDirectory("clidx-bytes-rb").toString
    Dedup.buildClusterIndex(
      corpus.union(Seq((20L, doc("c4x", "zz"))).toDF("doc_id", "text")),
      rebuilt, threshold = thr)
    assert(readVerdicts(idx) == readVerdicts(rebuilt))
    // swap bookkeeping cleaned up; the committed marker is the durable
    // record of the appended batch
    assert(java.nio.file.Files.list(
      java.nio.file.Paths.get(s"$idx/appends")).iterator().asScala
      .map(_.getFileName.toString).toSeq
      .filterNot(_.startsWith(".")) // Hadoop local-FS .crc sidecars
      .forall(n => n.endsWith(".committed") || n == "_manifest"))
    assert(!new java.io.File(s"$idx/verdicts.old").exists() ||
      new java.io.File(s"$idx/verdicts.old").list().isEmpty)
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
    assert(new java.io.File(s"$idx/verdicts/vb=4").exists())
    val batch = Seq((3L, doc("ax", "t2"))).toDF("doc_id", "text")
    Dedup.appendToClusterIndex(spark, idx, batch)
    assert(!new java.io.File(s"$idx/verdicts/vb=4").exists(),
      "emptied bucket dir must be retired")
    val rebuilt = java.nio.file.Files.createTempDirectory("clidx-empty-rb").toString
    Dedup.buildClusterIndex(corpus.union(batch), rebuilt, threshold = thr)
    assert(readVerdicts(idx) == readVerdicts(rebuilt))
    val labels = readVerdicts(idx).map(t => t._1 -> t._2).toMap
    assert(labels(100L) == 3L && labels(101L) == 3L && labels(3L) == 3L)
    Seq(idx, rebuilt).foreach(d =>
      graft.TmpDirs.deleteRecursively(new java.io.File(d)))
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
    Seq("after-artifacts", "after-staging", "after-intent",
      "after-bucket-swap-0").foreach { point =>
      val idx = java.nio.file.Files.createTempDirectory(s"clidx-crash").toString
      Dedup.buildClusterIndex(corpus, idx, threshold = thr)
      Dedup.appendCrashPoint = Some(point)
      try {
        val ex = intercept[IllegalStateException] {
          Dedup.appendToClusterIndex(spark, idx, batch)
        }
        assert(ex.getMessage.contains(point), ex.getMessage)
      } finally Dedup.appendCrashPoint = None
      // retry of the SAME batch converges
      Dedup.appendToClusterIndex(spark, idx, batch)
      assert(readVerdicts(idx) == want, s"failpoint $point diverged")
      // idempotent artifacts: exactly one shingle row per doc id
      val shCounts = spark.read.parquet(s"$idx/shingles")
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
    val stampsBefore = fileStamps(s"$idx/verdicts")
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
    // 3 (the split-off label) may move; 7 and 8's buckets byte-identical
    val touched = Set("vb=1/", "vb=3/")
    val stampsAfter = fileStamps(s"$idx/verdicts")
    assert(stampsAfter.filterNot(s => touched.exists(s._1.startsWith)) ==
      stampsBefore.filterNot(s => touched.exists(s._1.startsWith)),
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
    Seq("after-staging", "after-intent", "after-bucket-swap-0").foreach { point =>
      val idx = java.nio.file.Files.createTempDirectory("clidx-delc").toString
      Dedup.buildClusterIndex(corpus, idx, threshold = 0.5)
      Dedup.appendCrashPoint = Some(point)
      try {
        val ex = intercept[IllegalStateException] {
          Dedup.deleteFromClusterIndex(spark, idx, Seq(2L).toDF("doc_id"))
        }
        assert(ex.getMessage.contains(point), ex.getMessage)
      } finally Dedup.appendCrashPoint = None
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
    // artifacts landed and never retried — the orphan gc exists for
    Dedup.appendToClusterIndex(spark, idx,
      Seq((10L, doc("ax", "t1"))).toDF("doc_id", "text"))
    Dedup.appendCrashPoint = Some("after-artifacts")
    try intercept[IllegalStateException] {
      Dedup.appendToClusterIndex(spark, idx,
        Seq((11L, doc("bx", "u1"))).toDF("doc_id", "text"))
    } finally Dedup.appendCrashPoint = None
    def appParts(d: String): Set[String] =
      Option(new java.io.File(s"$idx/$d").list()).map(_.toSet)
        .getOrElse(Set.empty).filter(_.startsWith("__app="))
    assert(appParts("shingles").size == 3 && appParts("prefix").size == 3,
      s"fixture: ${appParts("shingles")}") // build + committed + orphan
    val verdictsBefore = readVerdicts(idx)
    Dedup.gcClusterIndex(spark, idx)
    // the orphan partition is gone; build + committed remain; verdicts
    // untouched; and the index still appends fine afterwards
    assert(appParts("shingles").size == 2 && appParts("prefix").size == 2,
      s"after gc: ${appParts("shingles")}")
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
    // crash AFTER the intent journal: the staged data is complete, so
    // gc's recovery must finish the swap (artifacts become committed),
    // not reap the partition
    Dedup.appendCrashPoint = Some("after-intent")
    try intercept[IllegalStateException] {
      Dedup.appendToClusterIndex(spark, idx,
        Seq((5L, doc("ax", "t1"))).toDF("doc_id", "text"))
    } finally Dedup.appendCrashPoint = None
    Dedup.gcClusterIndex(spark, idx)
    val labels = readVerdicts(idx).map(t => t._1 -> t._2).toMap
    assert(labels(5L) == 1L, labels) // rolled forward
    val parts = Option(new java.io.File(s"$idx/shingles").list())
      .map(_.toSet).getOrElse(Set.empty).filter(_.startsWith("__app="))
    assert(parts.size == 2, parts) // build + the rolled-forward append
    graft.TmpDirs.deleteRecursively(new java.io.File(idx))
  }

  test("commit markers are liveness-gated: delete -> re-append -> delete-again executes (and the mirror)") {
    // the marker alone is STALE across the inverse op: the first
    // delete's marker must not swallow the second delete after a
    // re-append (a repeated single-id takedown), and the first append's
    // marker must not swallow a re-append of the exact same batch after
    // a delete. Both directions, pinned against rebuilds.
    val corpus = Seq((1L, doc("ax", "t0")), (2L, doc("bx", "u0")))
      .toDF("doc_id", "text")
    val idx = java.nio.file.Files.createTempDirectory("clidx-liveness").toString
    Dedup.buildClusterIndex(corpus, idx, threshold = thr)
    val batch = Seq((5L, doc("ax", "t9"))).toDF("doc_id", "text")
    Dedup.appendToClusterIndex(spark, idx, batch) // marker(append{5}) lands
    assert(readVerdicts(idx).map(_._1) == Set(1L, 2L, 5L))
    Dedup.deleteFromClusterIndex(spark, idx, Seq(5L).toDF("doc_id")) // marker(del:5)
    assert(readVerdicts(idx).map(_._1) == Set(1L, 2L))
    // re-append the EXACT same batch: append marker exists but 5 is
    // dead — must execute, not silently no-op
    Dedup.appendToClusterIndex(spark, idx, batch)
    val labels = readVerdicts(idx).map(t => t._1 -> t._2).toMap
    assert(labels.keySet == Set(1L, 2L, 5L) && labels(5L) == 1L,
      s"re-append after delete silently no-opped: $labels")
    // delete AGAIN: delete marker exists but 5 is live — must execute
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
    // append{10,11}'s marker exists; 11 live, 10 dead -> ambiguous
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
    Dedup.appendCrashPoint = Some("after-artifacts")
    try intercept[IllegalStateException] {
      Dedup.appendToClusterIndex(spark, idx,
        Seq((9L, doc("cx", "w0"))).toDF("doc_id", "text"))
    } finally Dedup.appendCrashPoint = None
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
    // physically: one consolidated row per live doc, all under build
    val sh = spark.read.parquet(s"$idx/shingles")
      .select($"__mid", $"__app").collect()
    assert(sh.map(_.getLong(0)).toSet == Set(1L, 2L, 3L) &&
      sh.map(_.getString(1)).toSet == Set("build"), sh.toSeq)
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
    Seq("after-compact-staging-shingles", "mid-compact-swap-shingles",
      "after-compact-staging-prefix", "mid-compact-swap-prefix")
      .foreach { point =>
        val idx = java.nio.file.Files.createTempDirectory("clidx-cc").toString
        Dedup.buildClusterIndex(corpus, idx, threshold = thr)
        Dedup.deleteFromClusterIndex(spark, idx, Seq(3L).toDF("doc_id"))
        Dedup.appendToClusterIndex(spark, idx,
          Seq((3L, doc("bx", "u9"))).toDF("doc_id", "text"))
        Dedup.appendCrashPoint = Some(point)
        try {
          val ex = intercept[IllegalStateException] {
            Dedup.compactClusterIndexArtifacts(spark, idx)
          }
          assert(ex.getMessage.contains(point), ex.getMessage)
        } finally Dedup.appendCrashPoint = None
        // a maintenance op right after the crash heals the store via
        // recovery and lands correctly
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
    // An abandoned crash in a pre-journal window (rollback points) must
    // leave the op unapplied; one in a post-journal window (forward
    // points) must be completed by the NEXT op's recovery. The index
    // must stay row-identical to a from-scratch rebuild over the
    // driver-side mirror of the live corpus (gc runs before each
    // compare to flush pending roll-forwards — itself a legit
    // lifecycle op). Re-appends of deleted ids carry NEW text, so
    // artifact resolution is exercised under churn too.
    val vocab = Seq("a", "b", "c", "d")
    def randText(rnd: scala.util.Random): String =
      Seq.fill(rnd.nextInt(16) + 4)(vocab(rnd.nextInt(vocab.length)))
        .mkString(" ")
    val appendRollback = Seq("after-artifacts", "after-staging")
    val appendForward = Seq("after-intent", "after-bucket-swap-0")
    val deleteRollback = Seq("after-staging")
    val deleteForward = Seq("after-intent", "after-bucket-swap-0")
    val compactPoints = Seq("after-compact-staging-shingles",
      "mid-compact-swap-shingles", "after-compact-staging-prefix",
      "mid-compact-swap-prefix")
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
      def crashAt(p: String)(op: => Unit): Unit = {
        Dedup.appendCrashPoint = Some(p)
        try { val e = intercept[IllegalStateException](op)
          assert(e.getMessage.contains(p), e.getMessage) }
        finally Dedup.appendCrashPoint = None
      }
      /** Runs op under one of: clean; crash+retry; crash+abandon.
        * Returns true iff the op is (eventually) APPLIED. */
      def runOp(rollback: Seq[String], forward: Seq[String])
          (op: => Unit): Boolean = rnd.nextInt(5) match {
        case 0 | 1 => op; true
        case 2 => // crash anywhere, then retry converges
          val all = rollback ++ forward
          crashAt(all(rnd.nextInt(all.length)))(op)
          op; true
        case 3 => // abandon in a pre-journal window: never applied
          crashAt(rollback(rnd.nextInt(rollback.length)))(op)
          false
        case 4 => // abandon post-journal: next recovery rolls it forward
          if (forward.isEmpty) { op; true }
          else { crashAt(forward(rnd.nextInt(forward.length)))(op); true }
      }
      (0 until 6).foreach { step =>
        // manifest chaos: the sequence cache may vanish at any point
        // (object-store eviction, manual cleanup) — ops must keep
        // resolving from the marker files and re-heal it
        if (rnd.nextInt(3) == 0) {
          new java.io.File(s"$idx/appends/_manifest").delete()
          new java.io.File(s"$idx/appends/._manifest.crc").delete()
          ()
        }
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
          Dedup.gcClusterIndex(spark, idx) // flush pending roll-forwards
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

  test("commit-marker manifest caches sequences; missing/stale manifest and tmp leftovers self-heal") {
    val corpus = (0 until 8).map(i => (i.toLong, doc(s"m${i}x", s"t$i")))
      .toDF("doc_id", "text")
    val idx = java.nio.file.Files.createTempDirectory("clidx-manifest").toString
    Dedup.buildClusterIndex(corpus, idx, threshold = thr)
    Dedup.appendToClusterIndex(spark, idx,
      Seq((20L, doc("m1x", "aa"))).toDF("doc_id", "text"))
    Dedup.appendToClusterIndex(spark, idx,
      Seq((21L, doc("m2x", "bb"))).toDF("doc_id", "text"))
    def markerSeqs(): Map[String, Long] = {
      val dir = new java.io.File(s"$idx/appends")
      dir.listFiles().filter(_.getName.endsWith(".committed")).map { f =>
        val s = java.nio.file.Files.readString(f.toPath).trim
        f.getName.stripSuffix(".committed") -> (if (s.isEmpty) 0L else s.toLong)
      }.toMap
    }
    def manifestSeqs(): Map[String, Long] =
      java.nio.file.Files.readString(
        java.nio.file.Paths.get(s"$idx/appends/_manifest"))
        .linesIterator.filter(_.nonEmpty).map { l =>
          val i = l.lastIndexOf(' ')
          l.substring(0, i) -> l.substring(i + 1).toLong
        }.toMap
    // the manifest mirrors the marker files exactly (2 appends)
    assert(markerSeqs().size == 2)
    assert(manifestSeqs() == markerSeqs())
    // LEGACY path: a pre-manifest index (manifest deleted) still reads
    // its sequences from the markers, and the next commit re-heals the
    // manifest with every committed op
    assert(new java.io.File(s"$idx/appends/_manifest").delete())
    new java.io.File(s"$idx/appends/._manifest.crc").delete() // hadoop local-FS sidecar
    // a stale tmp leftover (crash between stage and swap) is harmless
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$idx/appends/_manifest.tmp"), "junk junk")
    Dedup.appendToClusterIndex(spark, idx,
      Seq((22L, doc("m3x", "cc"))).toDF("doc_id", "text"))
    assert(markerSeqs().size == 3)
    assert(manifestSeqs() == markerSeqs(),
      "manifest must re-heal to the full marker set after deletion")
    // a STRAGGLER marker (committed op whose manifest write crashed —
    // simulated by evicting its entry) is read directly and re-healed
    val full = manifestSeqs()
    val evicted = full - full.keys.head
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$idx/appends/_manifest"),
      evicted.map { case (a, s) => s"$a $s" }.mkString("\n"))
    new java.io.File(s"$idx/appends/._manifest.crc").delete() // stale sidecar
    // maintenance still resolves every artifact correctly: compaction
    // + report see all three appends' sequences (straggler included)
    Dedup.compactClusterIndexArtifacts(spark, idx)
    val rep = Dedup.clusterIndexArtifactReport(spark, idx)
      .filter(col("kind") =!= "live_current")
      .agg(sum(col("n_rows"))).collect()(0).getLong(0)
    assert(rep == 0L, s"non-current artifact rows after compaction: $rep")
    // and the verdicts still equal a full rebuild
    val rebuilt = java.nio.file.Files.createTempDirectory("clidx-manifest-rb").toString
    Dedup.buildClusterIndex(
      corpus.union(Seq((20L, doc("m1x", "aa")), (21L, doc("m2x", "bb")),
        (22L, doc("m3x", "cc"))).toDF("doc_id", "text")),
      rebuilt, threshold = thr)
    assert(readVerdicts(idx) == readVerdicts(rebuilt))
    Seq(idx, rebuilt).foreach(d =>
      graft.TmpDirs.deleteRecursively(new java.io.File(d)))
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
