package graft

import graft.ops.{Dedup, IndexLog}
import org.apache.spark.sql.functions._

/** Lifecycle of the persisted semantic-dedup index past the build:
  * [[Dedup.appendToSemDedupIndex]] (the ingestion loop's growth op) and
  * [[Dedup.deleteFromSemDedupIndex]] (the takedown half), each under
  * the repo's maintenance contracts:
  *
  *   - append REBUILD-EQUIVALENCE: members after N appends are
  *     row-identical to a from-scratch build over corpus ∪ batches
  *     (same quantizer), and id-monotone slicing leaves every verdict
  *     equal to the one-shot probe of the full batch (the restriction
  *     contract, online);
  *   - delete REBUILD-EQUIVALENCE: members after a delete are
  *     row-identical to a build over corpus ∖ batch, probes serve the
  *     remaining corpus;
  *   - idempotence: committed-append retries no-op with byte-identical
  *     verdicts; committed-delete retries no-op; liveness gates the
  *     delete→re-append→re-delete lifecycle;
  *   - crash windows: at every failpoint readers return exactly the
  *     last committed state (a write no commit lists is invisible) and
  *     a retry converges to the no-crash result;
  *   - guards: already-indexed / duplicate-in-batch / non-indexed
  *     delete / delete-everything / batch cap, all loud.
  */
class SemDedupIndexLifecycleSpec extends SparkTestBase {
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"
  private def emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
  private def corpus = emb.filter($"vec_id" % 10 =!= 0)
  private def arrivals = emb.filter($"vec_id" % 10 === 0)
  private def seeds = emb.filter($"vec_id" % 25 === 0)
  private val T = 0.40

  private def buildIdx(root: String, over: org.apache.spark.sql.DataFrame)
      : Unit =
    Dedup.buildSemDedupIndex(over, root, "embedding", "vec_id",
      seeds = seeds, seedId = "vec_id", seedEmb = "embedding")

  private def freshRoot(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"semlife-$tag").toString

  /** The index head's members (seeds) — what every reader serves. */
  private def members(root: String) =
    graft.ops.IndexLog.snapshot(spark, root).frame("members")
  private def seedsOf(root: String) =
    graft.ops.IndexLog.snapshot(spark, root).frame("seeds")

  private def membersSet(root: String): Set[(Long, Long, Seq[Float])] =
    members(root)
      .select($"vec_id", $"cell".cast("long"), $"__emb")
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getSeq[Float](2))).toSet

  private def append(root: String, batch: org.apache.spark.sql.DataFrame)
      : Set[(Long, Long, Boolean)] =
    Dedup.appendToSemDedupIndex(spark, root, batch, "embedding", "vec_id",
        threshold = T)
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet

  private def probe(root: String, batch: org.apache.spark.sql.DataFrame)
      : Set[(Long, Long, Boolean)] =
    Dedup.semDedupFromIndex(spark, root, batch, "embedding", "vec_id",
        threshold = T)
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet

  private def rm(root: String): Unit =
    graft.TmpDirs.deleteRecursively(new java.io.File(root))

  test("append: rebuild-equivalence of members + one-shot verdict equality under id-monotone slicing") {
    val grown = freshRoot("grow")
    buildIdx(grown, corpus)
    val ids = arrivals.select($"vec_id").orderBy($"vec_id")
      .collect().map(_.getLong(0))
    assert(ids.length >= 9, "fixture too small to slice")
    val cuts = Seq(ids(ids.length / 3), ids(2 * ids.length / 3))
    val slices = Seq(
      arrivals.filter($"vec_id" < cuts(0)),
      arrivals.filter($"vec_id" >= cuts(0) && $"vec_id" < cuts(1)),
      arrivals.filter($"vec_id" >= cuts(1)))
    val sliced = slices.map(append(grown, _)).reduce(_ ++ _)

    // one-shot reference: a fresh index over the same corpus, the full
    // arrival set probed in one batch
    val ref = freshRoot("ref")
    buildIdx(ref, corpus)
    val oneShot = probe(ref, arrivals)
    assert(sliced == oneShot,
      "sliced ingest verdicts diverge from the one-shot probe")

    // members rebuild-equivalence: grown index == from-scratch build
    // over corpus ∪ arrivals
    val rebuilt = freshRoot("rebuilt")
    buildIdx(rebuilt, emb)
    assert(membersSet(grown) == membersSet(rebuilt),
      "grown members diverge from the from-scratch rebuild")
    Seq(grown, ref, rebuilt).foreach(rm)
  }

  test("append: committed replay no-ops with byte-identical verdicts and cleans staging leftovers") {
    val root = freshRoot("replay")
    buildIdx(root, corpus)
    val batch = arrivals.filter($"vec_id" % 20 === 0)
    val first = append(root, batch)
    val files = IndexFsProbe.allFiles(spark, s"$root/members")
    val again = append(root, batch)
    assert(again == first, "replay verdicts diverge")
    assert(IndexFsProbe.allFiles(spark, s"$root/members") == files,
      "replay changed members files")
    // a crashed attempt's files (a write no commit lists) stay invisible:
    // readers return exactly the last committed state
    val rest = arrivals.filter($"vec_id" % 20 =!= 0)
    val committed = probe(root, rest)
    val fakeStaging = new java.io.File(s"$root/members/junk")
    rest.select($"vec_id", $"embedding".as("__emb"), lit(0L).as("cell"))
      .write.partitionBy("cell").parquet(fakeStaging.getPath)
    assert(probe(root, rest) == committed,
      "an uncommitted write leaked into the probe")
    // retrying the (committed) append no-ops and leaves the foreign
    // leftover alone; readers still serve the committed state
    assert(append(root, batch) == first)
    assert(fakeStaging.exists())
    assert(probe(root, rest) == committed)
    graft.TmpDirs.deleteRecursively(fakeStaging)
    assert(probe(root, rest).nonEmpty)
    rm(root)
  }

  test("append crash windows: readers refuse loud, retry converges") {
    val batch = arrivals.filter($"vec_id" % 20 === 0)
    val rest = arrivals.filter($"vec_id" % 20 =!= 0)
    val clean = freshRoot("clean")
    buildIdx(clean, corpus)
    val preProbe = probe(clean, rest)
    val preMembers = membersSet(clean)
    val expected = append(clean, batch)
    val expectedMembers = membersSet(clean)
    val postProbe = probe(clean, rest)
    // data written / commit torn: the pre-append state; committed (the
    // crash hit before the op returned): the post-append state
    for ((point, (seenProbe, seenMembers)) <- Seq(
        "semapp-after-staging" -> (preProbe, preMembers),
        "semapp-mid-commit" -> (preProbe, preMembers),
        "semapp-after-commit" -> (postProbe, expectedMembers))) {
      val root = freshRoot(s"crash-$point")
      buildIdx(root, corpus)
      IndexLog.crashPoint = Some(point)
      try intercept[IllegalStateException] { append(root, batch) }
      finally IndexLog.crashPoint = None
      assert(probe(root, rest) == seenProbe,
        s"$point: readers do not see exactly the last committed state")
      assert(membersSet(root) == seenMembers, s"$point: members diverge")
      val retried = append(root, batch)
      assert(retried == expected, s"$point: retry verdicts diverge")
      assert(membersSet(root) == expectedMembers,
        s"$point: retry members diverge")
      rm(root)
    }
    rm(clean)
  }

  test("append guards: already-indexed, duplicate-in-batch, batch cap — all loud") {
    val root = freshRoot("guards")
    buildIdx(root, corpus)
    val already = intercept[IllegalArgumentException] {
      append(root, corpus.limit(3))
    }
    assert(already.getMessage.contains("already-indexed"))
    val one = arrivals.filter($"vec_id" === 0)
    val dup = intercept[IllegalArgumentException] {
      append(root, one.union(one))
    }
    assert(dup.getMessage.contains("duplicate"))
    withSQLConf("spark.graft.semdedup.appendBatchCap" -> "3") {
      val cap = intercept[IllegalArgumentException] {
        append(root, arrivals)
      }
      assert(cap.getMessage.contains("appendBatchCap"))
    }
    // empty batch: verdictless no-op, no marker, index untouched
    val files = IndexFsProbe.allFiles(spark, s"$root/members")
    assert(append(root, arrivals.filter($"vec_id" < 0)).isEmpty)
    assert(IndexFsProbe.allFiles(spark, s"$root/members") == files)
    rm(root)
  }

  test("delete: rebuild-equivalence, probes serve the remaining corpus, emptied cells disappear") {
    val root = freshRoot("del")
    buildIdx(root, corpus)
    // delete one whole cell's members plus a slice of another —
    // exercises the emptied-cell retire path and the rewrite path
    val byCell = members(root)
      .groupBy($"cell").agg(collect_list($"vec_id").as("ids"))
      .orderBy($"cell").collect()
    assert(byCell.length >= 2, "fixture has too few cells")
    val wholeCell = byCell.head.getSeq[Long](1)
    val partial = byCell(1).getSeq[Long](1).take(1)
    val delIds = (wholeCell ++ partial).toDF("vec_id")
    Dedup.deleteFromSemDedupIndex(spark, root, delIds, "vec_id")
    val remaining = corpus.join(delIds, Seq("vec_id"), "left_anti")
    val rebuilt = freshRoot("del-ref")
    buildIdx(rebuilt, remaining)
    assert(membersSet(root) == membersSet(rebuilt),
      "post-delete members diverge from the rebuild over the remainder")
    val emptied = byCell.head.get(0).toString
    assert(graft.ops.IndexLog.snapshot(spark, root).table("members").files
        .forall(!_.cell.contains(emptied)) &&
      IndexFsProbe.unlisted(spark, root, "members").isEmpty,
      "emptied cell's files survived the delete")
    assert(probe(root, arrivals) == probe(rebuilt, arrivals),
      "post-delete probe diverges from the rebuilt index's")
    // committed retry: no-op
    val files = IndexFsProbe.allFiles(spark, s"$root/members")
    Dedup.deleteFromSemDedupIndex(spark, root, delIds, "vec_id")
    assert(IndexFsProbe.allFiles(spark, s"$root/members") == files)
    Seq(root, rebuilt).foreach(rm)
  }

  test("delete guards: non-indexed id, delete-everything — loud; liveness gates re-append → re-delete") {
    val root = freshRoot("delg")
    buildIdx(root, corpus)
    val missing = intercept[IllegalArgumentException] {
      Dedup.deleteFromSemDedupIndex(spark, root,
        arrivals.select($"vec_id").limit(1), "vec_id")
    }
    assert(missing.getMessage.contains("not indexed"))
    val everything = intercept[IllegalArgumentException] {
      Dedup.deleteFromSemDedupIndex(spark, root,
        corpus.select($"vec_id"), "vec_id")
    }
    assert(everything.getMessage.contains("every member"))
    // append → delete → re-append → re-delete: every step must EXECUTE
    // (stale markers alone would silently no-op steps 3 and 4)
    val batch = arrivals.filter($"vec_id" % 20 === 0)
    append(root, batch)
    Dedup.deleteFromSemDedupIndex(spark, root, batch.select($"vec_id"),
      "vec_id")
    assert(members(root)
      .join(batch.select($"vec_id"), Seq("vec_id"), "left_semi").count() == 0)
    append(root, batch) // marker exists, none live -> must execute
    assert(members(root)
      .join(batch.select($"vec_id"), Seq("vec_id"), "left_semi")
      .count() == batch.count())
    Dedup.deleteFromSemDedupIndex(spark, root, batch.select($"vec_id"),
      "vec_id") // marker exists, all live -> must execute
    assert(members(root)
      .join(batch.select($"vec_id"), Seq("vec_id"), "left_semi").count() == 0)
    rm(root)
  }

  test("delete crash windows: readers refuse loud, retry converges (incl. mid-swap missing-cell restore)") {
    val byCellRef = {
      val r = freshRoot("delc-ref")
      buildIdx(r, corpus)
      val rows = members(r)
        .groupBy($"cell").agg(collect_list($"vec_id").as("ids"))
        .orderBy($"cell").collect()
      rm(r)
      rows
    }
    val delIds = (byCellRef.head.getSeq[Long](1) ++
      byCellRef(1).getSeq[Long](1).take(1)).toDF("vec_id")
    val (expect, preProbe, postProbe) = {
      val r = freshRoot("delc-exp")
      buildIdx(r, corpus)
      val pre = probe(r, arrivals)
      Dedup.deleteFromSemDedupIndex(spark, r, delIds, "vec_id")
      val m = membersSet(r); val post = probe(r, arrivals); rm(r); (m, pre, post)
    }
    for ((point, seen) <- Seq("semdel-after-staging" -> preProbe,
        "semdel-mid-commit" -> preProbe, "semdel-after-commit" -> postProbe)) {
      val root = freshRoot(s"delc-$point")
      buildIdx(root, corpus)
      IndexLog.crashPoint = Some(point)
      try intercept[IllegalStateException] {
        Dedup.deleteFromSemDedupIndex(spark, root, delIds, "vec_id")
      } finally IndexLog.crashPoint = None
      assert(probe(root, arrivals) == seen,
        s"$point: readers do not see exactly the last committed state")
      Dedup.deleteFromSemDedupIndex(spark, root, delIds, "vec_id")
      assert(membersSet(root) == expect, s"$point: retry members diverge")
      rm(root)
    }
  }

  test("RE-delete crash under a stale committed marker: recovery rolls back (never reclaims retired cells), retry converges") {
    // append -> delete -> re-append -> re-delete CRASH mid-swap: the
    // first delete's marker shares the opId, so a marker-trusting
    // recovery would misread the crashed second delete as committed and
    // reclaim the retired cell dir — losing every innocent corpus row
    // in that cell. The fix clears the stale marker before any swap
    // work, so recovery rolls back and the retry converges.
    val root = freshRoot("redelete")
    buildIdx(root, corpus)
    val corpusMembers = membersSet(root)
    val batch = arrivals.filter($"vec_id" % 20 === 0)
    val delIds = batch.select($"vec_id")
    append(root, batch)
    Dedup.deleteFromSemDedupIndex(spark, root, delIds, "vec_id")
    append(root, batch) // re-append (marker stale from here on)
    val reappended = membersSet(root)
    IndexLog.crashPoint = Some("semdel-mid-commit")
    try intercept[IllegalStateException] {
      Dedup.deleteFromSemDedupIndex(spark, root, delIds, "vec_id")
    } finally IndexLog.crashPoint = None
    assert(membersSet(root) == reappended,
      "readers do not see exactly the last committed state")
    Dedup.deleteFromSemDedupIndex(spark, root, delIds, "vec_id") // retry
    assert(membersSet(root) == corpusMembers,
      "re-delete crash + retry lost corpus rows (retired cells reclaimed?)")
    rm(root)
  }

  test("RE-append crash under a stale committed marker: the sweep still runs, retry converges instead of wedging") {
    // append -> delete -> re-append CRASH mid-rename: gating the sweep
    // on marker absence suppressed it here (stale marker), the landed
    // files tripped the already-indexed guard on every retry, and NO op
    // could clear the state. Liveness-gated replay detection fixes it.
    val root = freshRoot("reappend")
    buildIdx(root, corpus)
    val batch = arrivals.filter($"vec_id" % 20 === 0)
    append(root, batch)
    val afterFirst = membersSet(root)
    Dedup.deleteFromSemDedupIndex(spark, root, batch.select($"vec_id"),
      "vec_id")
    val afterDelete = membersSet(root)
    IndexLog.crashPoint = Some("semapp-after-staging")
    try intercept[IllegalStateException] { append(root, batch) }
    finally IndexLog.crashPoint = None
    assert(membersSet(root) == afterDelete,
      "readers do not see exactly the last committed state")
    val retried = append(root, batch) // must redo, not wedge
    assert(retried.nonEmpty, "re-append retry returned no verdicts")
    assert(membersSet(root) == afterFirst,
      "re-append crash + retry diverged from the first append's members")
    rm(root)
  }

  test("replay after a PARTIAL delete of a committed batch refuses loud and never thins committed members") {
    // append commits -> a delete removes SOME of the batch's ids -> the
    // append replays (at-least-once). The replay sees its recorded op id
    // with partial liveness: the surviving member files are COMMITTED
    // state in cells the delete never rewrote, so the replay must not
    // touch them. The loud refusal names the recovery.
    val root = freshRoot("partial-del-replay")
    buildIdx(root, corpus)
    val batch = arrivals.filter($"vec_id" % 20 === 0)
    append(root, batch)
    val afterAppend = membersSet(root)
    val subset = batch.select($"vec_id").orderBy($"vec_id").limit(1)
    Dedup.deleteFromSemDedupIndex(spark, root, subset, "vec_id")
    val afterDelete = membersSet(root)
    assert(afterDelete.size == afterAppend.size - 1)
    val ex = intercept[IllegalArgumentException] { append(root, batch) }
    assert(ex.getMessage.contains("PARTIAL liveness"), ex.getMessage)
    assert(membersSet(root) == afterDelete,
      "the refused replay must not touch members (committed files were swept)")
    // readers still serve the post-delete corpus (no leftover refusal)
    assert(probe(root, arrivals.filter($"vec_id" % 20 === 10)).nonEmpty)
    rm(root)
  }

  test("rebuild mid-swap crash then a second crash after heal: the live pair is never a MIXED generation") {
    // seeds and members must change TOGETHER — the NEW quantizer over
    // the OLD assignment would serve silently wrong verdicts. Crash the
    // rebuild mid-commit (a torn commit file), then crash the retry
    // right after staging; the served pair must be self-consistent:
    // every member's stored cell equals its assignment under the
    // stored quantizer.
    def cosd(a: Seq[Float], b: Seq[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < math.min(a.length, b.length)) {
        dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i); i += 1
      }
      if (na == 0.0 || nb == 0.0) 0.0
      else dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val root = freshRoot("rebuild-mixed")
    buildIdx(root, corpus)
    val beforeRows = membersSet(root).map(t => (t._1, t._3))
    IndexLog.crashPoint = Some("semrebuild-mid-commit")
    try intercept[IllegalStateException] {
      Dedup.rebuildSemDedupIndex(spark, root)
    } finally IndexLog.crashPoint = None
    IndexLog.crashPoint = Some("semrebuild-after-staging")
    try intercept[IllegalStateException] {
      Dedup.rebuildSemDedupIndex(spark, root) // replaces the torn commit's attempt, then crashes
    } finally IndexLog.crashPoint = None
    val sd = seedsOf(root).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1))).sortBy(_._1)
    def cellOf(v: Seq[Float]): Long =
      sd.map { case (sid, se) => (cosd(v, se), sid) }
        .maxBy { case (c, sid) => (c, -sid) }._2
    membersSet(root).foreach { case (id, cell, emb) =>
      assert(cellOf(emb) == cell,
        s"member $id stored in cell $cell but the live quantizer " +
          s"assigns ${cellOf(emb)} — a mixed-generation pair is being served")
    }
    // a final clean rebuild still converges with every row intact
    Dedup.rebuildSemDedupIndex(spark, root)
    assert(membersSet(root).map(t => (t._1, t._3)) == beforeRows)
    rm(root)
  }

  test("randomized crash-interleaved lifecycle: any op sequence with injected crashes converges to the driver-side mirror") {
    // the per-op failpoint tests cover each crash window in isolation;
    // this property covers their INTERLEAVINGS: a random sequence of
    // append / delete / probe where each mutating op may crash at a
    // random failpoint — readers must serve exactly the last committed
    // state until the retry, the retry must converge — plus torn-commit
    // chaos. After every
    // committed op the persisted members must equal the driver-side
    // mirror's assignment exactly, and every verdict (append's and
    // probe's) must equal the brute-force id-ordered reference.
    val dim = 8
    val Tc = 0.9
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < math.min(a.length, b.length)) {
        dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i); i += 1
      }
      if (na == 0.0 || nb == 0.0) 0.0
      else dot / (math.sqrt(na) * math.sqrt(nb))
    }
    for (propSeed <- Seq(7, 23)) {
      val rnd = new scala.util.Random(propSeed)
      def randEmb(): Seq[Float] =
        Seq.fill(dim)((rnd.nextDouble() * 2 - 1).toFloat)
      val seedVecs = (0L until 4L).map(i => (i, randEmb()))
      def cellOf(v: Seq[Float]): Long =
        seedVecs.map { case (sid, se) => (cos(v, se), sid) }
          .maxBy { case (c, sid) => (c, -sid) }._2
      val mirror = scala.collection.mutable.Map.empty[Long, Seq[Float]]
      val retiredIds = scala.collection.mutable.Set.empty[Long]
      var nextId = 0L
      def freshIds(n: Int): Seq[Long] = {
        val ids = (nextId until nextId + n); nextId += n; ids
      }
      // ~1/3 of new vectors are near-copies of live ones, so both
      // verdict polarities occur under churn
      def newEmb(): Seq[Float] =
        if (mirror.nonEmpty && rnd.nextInt(3) == 0) {
          val ks = mirror.keys.toSeq.sorted
          val base = mirror(ks(rnd.nextInt(ks.size)))
          base.map(x => x + (rnd.nextDouble() * 0.002 - 0.001).toFloat)
        } else randEmb()
      val idx = java.nio.file.Files
        .createTempDirectory(s"semidx-chaos-$propSeed").toString
      freshIds(12).foreach(i => mirror(i) = newEmb())
      Dedup.buildSemDedupIndex(mirror.toSeq.toDF("vec_id", "embedding"),
        idx, "embedding", "vec_id",
        seeds = seedVecs.toDF("seed_id", "s_emb"),
        seedId = "seed_id", seedEmb = "s_emb")
      def refMembers: Set[(Long, Long, Seq[Float])] =
        mirror.map { case (i, v) => (i, cellOf(v), v) }.toSet
      def refVerdicts(batch: Seq[(Long, Seq[Float])])
          : Set[(Long, Long, Boolean)] = {
        val cells = batch.map(b => cellOf(b._2)).toSet
        val pool = mirror.toSeq.filter(m => cells(cellOf(m._2))) ++ batch
        batch.map { case (i, v) =>
          val c = cellOf(v)
          val dup = pool.exists { case (j, w) =>
            j < i && cellOf(w) == c && cos(v, w) >= Tc }
          (i, c, dup)
        }.toSet
      }
      def probeAt(batch: Seq[(Long, Seq[Float])])
          : Set[(Long, Long, Boolean)] =
        Dedup.semDedupFromIndex(spark, idx,
          batch.toDF("vec_id", "embedding"), "embedding", "vec_id",
          threshold = Tc)
          .collect().map(r =>
            (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
      def appendOp(batch: Seq[(Long, Seq[Float])])
          : Set[(Long, Long, Boolean)] =
        Dedup.appendToSemDedupIndex(spark, idx,
          batch.toDF("vec_id", "embedding"), "embedding", "vec_id",
          threshold = Tc)
          .collect().map(r =>
            (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
      def crashAt(p: String)(op: => Unit): Unit = {
        IndexLog.crashPoint = Some(p)
        try { val e = intercept[IllegalStateException](op)
          assert(e.getMessage.contains(p), e.getMessage) }
        finally IndexLog.crashPoint = None
      }
      /** clean run, or crash-at-random-failpoint (readers must serve
        * exactly the mirror, i.e. the last committed state) then retry. */
      def runMut(points: Seq[String])(op: => Unit): Unit =
        rnd.nextInt(3) match {
          case 0 | 1 => op
          case 2 =>
            crashAt(points(rnd.nextInt(points.length)))(op)
            val probeBatch = Seq((nextId + 999999L, randEmb()))
            assert(probeAt(probeBatch) == refVerdicts(probeBatch),
              "a reader saw an uncommitted write")
            assert(membersSet(idx) == refMembers,
              "a crashed op changed the committed members")
            op
        }
      val appendPoints = Seq("semapp-after-staging", "semapp-mid-commit")
      val deletePoints = Seq("semdel-after-staging", "semdel-mid-commit")
      (0 until 8).foreach { _ =>
        // torn-commit chaos: a crashed writer's torn commit file may sit
        // at the next version at any point — readers must skip it and
        // the next writer must replace it
        if (rnd.nextInt(3) == 0) {
          val next = graft.ops.IndexLog.snapshot(spark, idx).version + 1
          java.nio.file.Files.write(
            java.nio.file.Paths.get(idx, "_log", f"$next%020d.json"),
            "{\"version\":".getBytes("UTF-8"))
          ()
        }
        rnd.nextInt(3) match {
          case 0 => // append fresh ids, sometimes re-appending retired
            // ids under NEW embeddings (the liveness-gated lifecycle)
            val back = retiredIds.toSeq.sorted.filter(_ => rnd.nextBoolean())
            val batch = (freshIds(rnd.nextInt(3) + 1) ++ back)
              .map(i => (i, newEmb()))
            val expect = refVerdicts(batch)
            var got: Set[(Long, Long, Boolean)] = null
            runMut(appendPoints) { got = appendOp(batch) }
            assert(got == expect, s"append verdicts diverge: $got vs $expect")
            retiredIds --= back
            batch.foreach { case (i, v) => mirror(i) = v }
          case 1 if mirror.size >= 2 => // delete a proper subset
            val live = mirror.keys.toSeq.sorted
            val ids = rnd.shuffle(live).take(rnd.nextInt(live.size - 1) + 1)
            runMut(deletePoints) {
              Dedup.deleteFromSemDedupIndex(spark, idx,
                ids.toDF("vec_id"), "vec_id")
            }
            ids.foreach { i => mirror -= i; retiredIds += i }
          case _ => // probe a non-member batch: serving path under churn
            val batch = freshIds(rnd.nextInt(2) + 1).map(i => (i, newEmb()))
            assert(probeAt(batch) == refVerdicts(batch),
              s"probe verdicts diverge under churn")
        }
        assert(membersSet(idx) == refMembers,
          "persisted members diverge from the driver-side mirror")
      }
      rm(idx)
    }
  }

  test("report + compaction: per-append file growth is counted exactly, compaction restores 1 file/cell with identical serving") {
    val root = freshRoot("compact")
    buildIdx(root, corpus)
    val ids = arrivals.select($"vec_id").orderBy($"vec_id")
      .collect().map(_.getLong(0))
    val cut = ids(ids.length / 2)
    val b1 = arrivals.filter($"vec_id" < cut)
    val b2 = arrivals.filter($"vec_id" >= cut)
    append(root, b1); append(root, b2)
    // exact file accounting: 1 build file per corpus cell + 1 per
    // touched cell per append, touches derived from the persisted
    // assignment itself
    val cellsOf = members(root)
      .select($"vec_id", $"cell".cast("long")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val corpusIds = corpus.select($"vec_id").collect().map(_.getLong(0)).toSet
    val b1Ids = b1.select($"vec_id").collect().map(_.getLong(0)).toSet
    val b2Ids = b2.select($"vec_id").collect().map(_.getLong(0)).toSet
    def touches(s: Set[Long]): Set[Long] = s.map(cellsOf)
    val expFiles = cellsOf.values.toSet.map { (c: Long) =>
      c -> ((if (touches(corpusIds).contains(c)) 1 else 0) +
        (if (touches(b1Ids).contains(c)) 1 else 0) +
        (if (touches(b2Ids).contains(c)) 1 else 0)).toLong
    }.toMap
    val report = Dedup.semDedupIndexReport(spark, root, fileThreshold = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getBoolean(3)))
    assert(report.map(r => r._1 -> r._3).toMap == expFiles,
      "per-cell file counts diverge from the lifecycle accounting")
    report.foreach { case (c, n, f, adv) =>
      assert(adv == (f >= 3), s"cell $c advisory inconsistent")
      assert(n == cellsOf.values.count(_ == c).toLong)
    }
    assert(report.exists(_._4) && report.exists(!_._4),
      "fixture should show both advisory polarities")
    // compaction: identical members + serving, 1 file per cell
    val beforeMembers = membersSet(root)
    val probeBatch = arrivals.limit(7)
      .withColumn("vec_id", $"vec_id" + 20000000L)
    val beforeProbe = probe(root, probeBatch)
    Dedup.compactSemDedupIndex(spark, root)
    assert(membersSet(root) == beforeMembers, "compaction changed rows")
    assert(probe(root, probeBatch) == beforeProbe,
      "compaction changed serving")
    val after = Dedup.semDedupIndexReport(spark, root)
      .collect().map(r => r.getLong(2))
    assert(after.forall(_ == 1L), s"compaction left multi-file cells")
    // lifecycle continues: committed-append replay still no-ops (the
    // all-live check rides the compacted rows), fresh appends land
    val filesNow = IndexFsProbe.allFiles(spark, s"$root/members")
    append(root, b2) // committed replay
    assert(IndexFsProbe.allFiles(spark, s"$root/members") == filesNow)
    append(root, probeBatch)
    assert(members(root)
      .filter($"vec_id" >= 20000000L).count() == 7)
    rm(root)
  }

  test("rebuild: re-trains the quantizer from live members, preserves every row, serving matches brute force under the new seeds") {
    val root = freshRoot("rebuild")
    buildIdx(root, corpus)
    append(root, arrivals)
    val beforeRows = membersSet(root).map(t => (t._1, t._3))
    val kOld = seedsOf(root).count()
    Dedup.rebuildSemDedupIndex(spark, root)
    assert(membersSet(root).map(t => (t._1, t._3)) == beforeRows,
      "rebuild lost or changed member rows")
    assert(seedsOf(root).count() == kOld,
      "rebuild changed the quantizer size unasked")
    assert(Dedup.semDedupIndexReport(spark, root).collect()
      .forall(_.getLong(2) == 1L), "rebuild should lay one file per cell")
    // serving vs brute force under the NEW quantizer: probe ids sit
    // above every member id, so dup == any same-cell member at cos>=T;
    // half the probe rows are exact copies of members (dup under ANY
    // quantizer), half are fresh
    def cosd(a: Seq[Float], b: Seq[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < math.min(a.length, b.length)) {
        dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i); i += 1
      }
      if (na == 0.0 || nb == 0.0) 0.0
      else dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val sd = seedsOf(root).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1))).sortBy(_._1)
    def cellOf(v: Seq[Float]): Long =
      sd.map { case (sid, se) => (cosd(v, se), sid) }
        .maxBy { case (c, sid) => (c, -sid) }._2
    val memberRows = members(root)
      .select($"vec_id", $"__emb").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    val probeRows = memberRows.take(5).zipWithIndex.map { case ((_, v), i) =>
      (40000000L + i, v)
    } ++ memberRows.take(3).zipWithIndex.map { case ((_, v), i) =>
      (40000100L + i, v.map(x => (x + 10f): Float))
    }
    val got = probe(root, probeRows.toSeq.toDF("vec_id", "embedding"))
    // reference pool = touched-cell members ∪ batch, id-ordered — the
    // probe's own contract (member ids all sit below the probe ids)
    val pool = memberRows.toSeq ++ probeRows
    val expect = probeRows.map { case (i, v) =>
      val c = cellOf(v)
      val dup = pool.exists { case (j, w) =>
        j < i && cellOf(w) == c && cosd(v, w) >= T }
      (i, c, dup)
    }.toSet
    assert(got == expect, s"post-rebuild serving diverges: $got vs $expect")
    assert(got.count(_._3) >= 5, "exact member copies must flag under any quantizer")
    // committed-append replay still no-ops over the re-assigned rows
    val files = IndexFsProbe.allFiles(spark, s"$root/members")
    append(root, arrivals)
    assert(IndexFsProbe.allFiles(spark, s"$root/members") == files,
      "post-rebuild replay of a committed append changed the index")
    rm(root)
  }

  test("rebuild crash windows: roll forward/back heals, rows never lost, readers refuse only while a live dir is missing") {
    val tiny = arrivals.limit(1)
      .select(($"vec_id" + 50000000L).as("vec_id"), $"embedding")
    // the pre-rebuild and the rebuilt pair's verdicts (k-means here is
    // deterministic, so a clean rebuild reproduces the crashed one's)
    val (preProbe, postProbe) = {
      val r = freshRoot("rebuild-ref")
      buildIdx(r, corpus)
      val pre = probe(r, tiny)
      Dedup.rebuildSemDedupIndex(spark, r)
      val post = probe(r, tiny); rm(r); (pre, post)
    }
    for ((point, seen) <- Seq("semrebuild-after-staging" -> preProbe,
        "semrebuild-mid-commit" -> preProbe,
        "semrebuild-after-commit" -> postProbe)) {
      val root = freshRoot(s"rebuild-$point")
      buildIdx(root, corpus)
      val beforeRows = membersSet(root).map(t => (t._1, t._3))
      IndexLog.crashPoint = Some(point)
      try intercept[IllegalStateException] {
        Dedup.rebuildSemDedupIndex(spark, root)
      } finally IndexLog.crashPoint = None
      // readers serve exactly the last committed pair: the old one
      // before the commit, the rebuilt one after it
      assert(probe(root, tiny) == seen, s"$point: readers see a mixed or uncommitted pair")
      Dedup.rebuildSemDedupIndex(spark, root) // retry
      assert(membersSet(root).map(t => (t._1, t._3)) == beforeRows,
        s"$point: rows lost or changed across crash + retry")
      assert(Dedup.semDedupIndexReport(spark, root).collect()
        .forall(_.getLong(2) == 1L), s"$point: retry left multi-file cells")
      rm(root)
    }
  }

  test("compaction crash windows: readers refuse loud, retry heals and converges") {
    for (point <- Seq("semcompact-after-staging", "semcompact-mid-commit",
        "semcompact-after-commit")) {
      val root = freshRoot(s"compact-$point")
      buildIdx(root, corpus)
      append(root, arrivals)
      val expect = membersSet(root)
      val probeBatch = arrivals.limit(1)
        .withColumn("vec_id", $"vec_id" + 30000000L)
      val before = probe(root, probeBatch)
      IndexLog.crashPoint = Some(point)
      try intercept[IllegalStateException] {
        Dedup.compactSemDedupIndex(spark, root)
      } finally IndexLog.crashPoint = None
      // readers serve exactly the last committed state (compaction
      // changes no row, so it is the same state on either side of the
      // commit)
      assert(probe(root, probeBatch) == before, s"$point: serving changed")
      assert(membersSet(root) == expect, s"$point: members changed")
      Dedup.compactSemDedupIndex(spark, root)
      assert(membersSet(root) == expect, s"$point: retry members diverge")
      assert(Dedup.semDedupIndexReport(spark, root)
        .collect().forall(_.getLong(2) == 1L), s"$point: not compacted")
      rm(root)
    }
  }

  test("cross-kind refusals: crashed append blocks delete, crashed delete blocks append — both loud") {
    // a crashed op of one kind leaves nothing the other kind can see, so
    // instead of refusing, the other kind runs against exactly the last
    // committed state, and the crashed op's retry converges afterwards
    val root = freshRoot("cross")
    buildIdx(root, corpus)
    val ref = freshRoot("cross-ref")
    buildIdx(ref, corpus)
    val batch = arrivals.filter($"vec_id" % 20 === 0)
    val other = arrivals.filter($"vec_id" % 20 =!= 0)
    val victim = corpus.select($"vec_id").orderBy($"vec_id").limit(1)
    IndexLog.crashPoint = Some("semapp-after-staging")
    try intercept[IllegalStateException] { append(root, batch) }
    finally IndexLog.crashPoint = None
    Dedup.deleteFromSemDedupIndex(spark, root, victim, "vec_id")
    Dedup.deleteFromSemDedupIndex(spark, ref, victim, "vec_id")
    assert(membersSet(root) == membersSet(ref),
      "a delete beside a crashed append diverged from the no-crash delete")
    assert(append(root, batch) == append(ref, batch),
      "the crashed append's retry diverged")

    IndexLog.crashPoint = Some("semdel-mid-commit")
    try intercept[IllegalStateException] {
      Dedup.deleteFromSemDedupIndex(spark, root, batch.select($"vec_id"),
        "vec_id")
    } finally IndexLog.crashPoint = None
    assert(append(root, other) == append(ref, other),
      "an append beside a crashed delete diverged from the no-crash append")
    Dedup.deleteFromSemDedupIndex(spark, root, batch.select($"vec_id"),
      "vec_id") // the delete's own retry
    Dedup.deleteFromSemDedupIndex(spark, ref, batch.select($"vec_id"), "vec_id")
    assert(membersSet(root) == membersSet(ref))
    assert(probe(root, batch).nonEmpty)
    Seq(root, ref).foreach(rm)
  }
}

/** Tiny file-listing probe shared by the lifecycle assertions. */
private[graft] object IndexFsProbe {
  def allFiles(spark: org.apache.spark.sql.SparkSession,
      dir: String): Set[String] = {
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(new org.apache.hadoop.fs.Path(dir))) return Set.empty
    val it = fs.listFiles(new org.apache.hadoop.fs.Path(dir), true)
    val b = Set.newBuilder[String]
    while (it.hasNext) b += it.next().getPath.toString
    b.result()
  }

  /** Data files under `$root/$table` that the index head does not list
    * (leftovers a commit should have deleted). */
  def unlisted(spark: org.apache.spark.sql.SparkSession, root: String,
      table: String): Set[String] = {
    val listed = graft.ops.IndexLog.snapshot(spark, root).tables.get(table)
      .toSeq.flatMap(_.files).map("/" + _.path)
    allFiles(spark, s"$root/$table")
      .filter(_.endsWith(".parquet")).filterNot(p => listed.exists(p.endsWith))
  }
}
