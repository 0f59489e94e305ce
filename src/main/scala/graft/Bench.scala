package graft
import org.apache.spark.sql.SparkSession

/** Driver-run benchmark. Prints ONE compact JSON line (the driver greps
  * it out of sbt's tail, so the line must stay short — headline queries
  * only, values rounded; SPARK_GRAFT_BENCH_ALL=1 runs the full surface).
  * Each query gets one untimed warmup run (codegen + JIT) before the
  * timed run — the steady-state number is the one comparable to a
  * native engine's throughput.
  */
object Bench {

  /** Headline queries: one per major subsystem (scan, join+agg, window,
    * CDC batch, CDC compaction, streaming, dedup exact/LSH, ANN brute/
    * IVF, text pipeline, bucketed join, stats). */
  val Headline: Seq[String] = Seq(
    "q01_agg", "q03_join_agg", "q17_window_rank", "q20_topk",
    "q42_stats_agg", "q55_bucketed_join",
    "q57_asof_join", "q58_range_join_binned",
    "cdc01_scan", "cdc03_latest_image", "cdc07_current_join_agg",
    "str01_window_agg",
    // llm08 (LSH candidates + exact verify, end-to-end) replaced llm06
    // here when llm06 became the oracle-gated recall AUDIT (it now runs
    // an exact prefix-filter join alongside LSH — measuring that would
    // misstate the production dedup path's throughput)
    "llm05_dedup_exact", "llm08_ngram_jaccard",
    "llm09_knn_brute", "llm16_knn_ivf", "llm17_pipeline",
    "llm22_embed_quantize", "llm27_curriculum_order", "llm30_ngram_topk",
    // round-5 additions: span-level dedup coverage and semantic dedup
    "llm49_span_coverage", "llm50_semdedup",
    // round-6 additions: the composed production ANN index (IVF cells x
    // PQ codes) and the prebuilt-index serving path — headline-worthy
    // once the codebook/centroid plan-literal overhead was removed
    // (reference-object expressions); both were 4-10x slower before
    "llm42_knn_ivfpq", "llm45_knn_ivf_prebuilt",
    // round-7 additions: the token-budget sampling family (the
    // data-mixture knob) — new operators get bench visibility the round
    // they land (the llm16 lesson: a regression hid for a round in an
    // unbenched query), and the MySQL-format CDC decode so the real wire
    // format's throughput tracks the GCDC path round-over-round
    "llm55_token_budget", "llm56_token_mixture", "cdc21_mysql_scan",
    // the real-codec multimodal paths (PNG decode llm12 landed r7's
    // real pipeline; WAV decode llm57 is new) — codec-bound operators
    // whose cost profile differs from everything else in the set
    "llm12_multimodal_features", "llm57_audio_features",
    // late round-7 additions: NEWDECIMAL decode on the real wire format
    // and the z-order layout operator (range exchange + per-cluster
    // stats) — same new-operator-visibility rule as above
    "cdc24_mysql_decimal", "q77_zorder_stats",
    // round-8 addition: MEDIUMINT + legacy temporal decode (the
    // remaining wire types) — same rule
    "cdc32_mysql_mediumint_legacy_temporals",
    // round-9 additions, same rule: DATETIME2/TIMESTAMP2 fsp decode on
    // the real wire, the narrow Gopher-repetition scorer, and the
    // two-corpus benchmark decontamination pass
    "cdc35_mysql_datetime_fsp", "llm60_repetition_signals",
    "llm61_decontaminate",
    // round-10 additions, same rule: the MINIMAL-row-image storyline
    // (PK-projection decode of thinned images — a distinct decoder
    // path), the shuffle-free Gopher rule gate, and the data-card
    // aggregation (exact percentiles over the mixture grid)
    "cdc37_mysql_minimal_row_image", "llm62_gopher_rules",
    "llm63_corpus_datacard",
    // round-11 additions, same rule: PARTIAL_JSON diff application (a
    // distinct decode+JsonBinary path), the NOBLOB row-image storyline,
    // the mysql drift-epoch remap (shaped emission), and the IVF
    // drift report (footer-only index scan + single-row reduction)
    "cdc44_mysql_partial_json", "cdc46_mysql_noblob_row_image",
    "cdc47_mysql_drift_epochs", "llm71_ivf_drift_report",
    // round-12 additions, same rule: the MariaDB decode path (V1 rows +
    // fork identity layer), tagged-PREVIOUS_GTIDS pruned scan, and the
    // cluster-index SERVE path (the build is a cached fixture; the scan
    // is what production pays per query)
    "cdc50_mariadb", "cdc49_mysql_tagged_starting_gtid",
    "llm73_cluster_index_serve",
    // round-14 additions, same rule: the exact-substring cut (hash-keyed
    // span shuffle + per-doc interval cut — the heaviest new per-query
    // path this round; llm79's report reads a build-once fixture and
    // str19/str20 are streaming, so none of those belong here) and the
    // persisted-index semantic-dedup probe (the serving path: batch
    // assignment + cell-pruned member scan; the index is a build-once
    // fixture like llm45/llm73)
    "llm80_span_cut", "llm82_semdedup_from_index",
    // round-15 addition, same rule: the multi-table fan-out query reads
    // two frames MATERIALIZED from one log decode (the materialization
    // is a build-once fixture like llm45/llm73/llm82; the benched path
    // is the cross-frame join a catalog consumer pays per query).
    // The round's other additions stay out by the same selection logic:
    // llm83 reads a fixture's persisted verdicts (a bare parquet scan),
    // llm84's benched path is llm82's serve plan over a smaller index,
    // and str21/str22/cdc54 are streaming/fixture-incremental like
    // str19/str20.
    "cdc53_fanout_multi_table")

  /** K NON-headline queries rotated into the headline (gate) run each
    * round, selected deterministically from the sorted non-headline
    * pool by round number: round N takes the K-slice starting at
    * (N·K mod pool size), so consecutive rounds cover disjoint slices
    * and the whole pool cycles in ceil(pool/K) rounds. Rationale
    * (round-15 post-mortem): the static headline set let a 23× archive
    * artifact (llm59) sail through two rounds unexamined — rotation
    * gives every query periodic gate visibility without benching the
    * full surface at gate depth every round. The selection is recorded
    * in the artifact (`"rotated"`) and pinned by BenchPolicySpec. */
  private[graft] def rotatedQueries(all: Seq[String], headline: Seq[String],
      round: Int, k: Int = 8): Seq[String] = {
    val hs = headline.toSet
    val pool = all.filterNot(hs).sorted
    if (pool.isEmpty || k <= 0) Nil
    else {
      val start = ((round.toLong * k) % pool.length).toInt
      (0 until math.min(k, pool.length)).map(i => pool((start + i) % pool.length))
    }
  }

  /** The round being benched = highest driver CORRECTNESS_r{N} in cwd
    * + 1 — the same convention scripts/bench_gate.sh uses to name the
    * archived baseline, so the rotation and the archive agree on N. */
  private[graft] def currentRound(names: Seq[String]): Int = {
    val re = "^CORRECTNESS_r(\\d+)\\.json$".r
    val rs = names.collect { case re(n) => n.toInt }
    if (rs.isEmpty) 1 else rs.max + 1
  }

  /** Timed samples per query per layout series (the published JSON
    * derives from this — one knob, no drift between the loop and the
    * declared methodology). The published number is the MEDIAN of the
    * samples: round 8 archived a 3.5x single-query ghost (llm08) that
    * three same-HEAD series contradicted — min-of-3 in one contiguous
    * host window is hostage to that window, while the median of
    * interleaved samples is not. `SPARK_GRAFT_BENCH_RUNS` overrides
    * (full-surface runs use fewer reps to bound wall time). */
  val timedRuns = 5

  /** Re-lay the driver's parquet tables into `n` files each, cached in
    * a tmp dir keyed by (sfDir, n). The driver's regenerated tables
    * arrive as ONE file with ONE row group — Spark cannot parallelize
    * inside them, so scans lose their local[n] speedup for reasons that
    * have nothing to do with the plans (at 100 TB data always arrives
    * as many files; `Layout.zOrderBy` is the production-side mitigation
    * of the same concern). The bench therefore times the re-laid layout
    * as the headline series and keeps single-sample raw-layout numbers
    * alongside, so environment effects and plan regressions stay
    * separable round-over-round. Reads go through [[Tables.load]]
    * (normalizing events.ts once — the rewrite is type-idempotent). */
  /** Only the compute-heavy tables split — the small dimension tables
    * and events symlink through unchanged (32 few-KB files taxed every
    * sub-second query ~0.2-0.4 s in listing/task overhead and bought
    * nothing). The split COUNT is size-proportional (~4 MiB per file,
    * floor 2, cap cpus) rather than a flat per-core fan-out: round-9
    * interleaved A/B measurement showed 32-way splitting of the
    * 2000-row embeddings / 5000-row documents tables was pure
    * listing/tiny-task tax on the ANN/text queries (+3.9-5.1 s across
    * the headline set in two of three runs), and the original
    * justification — llm24's CC rounds running 1-wide from a 1-file
    * source (23 s vs 7 s at r7) — no longer reproduces at HEAD
    * (5.2 s re-laid vs 4.7 s raw) because the round-8 input
    * localCheckpoint + star-contraction default fixed the width
    * problem in the operator itself. The floor of 2 keeps multi-file
    * code paths exercised (the r8 dir-symlink streaming bug was caught
    * by exactly that). */
  private val RelaidSplit = Set("orders", "lineitem", "documents", "embeddings")

  /** Size-proportional file count for a re-laid table. */
  private[graft] def splitCount(srcBytes: Long, cpus: Int): Int =
    math.max(2, math.min(cpus, math.ceil(srcBytes / (4.0 * 1024 * 1024)).toInt))

  /** Total byte size of a source table path (file or parquet dir,
    * walked recursively) — drives the size-proportional split count
    * and half of the staleness fingerprint. */
  private def totalSize(p: java.nio.file.Path): Long = {
    import java.nio.file.Files
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.mapToLong(c => if (Files.isRegularFile(c)) Files.size(c) else 0L).sum()
      finally s.close()
    }
  }

  /** Newest mtime under a source table path (file or parquet dir,
    * walked recursively) — half of the staleness fingerprint. */
  private def newestMtime(p: java.nio.file.Path): Long = {
    import java.nio.file.Files
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.mapToLong(c => Files.getLastModifiedTime(c).toMillis).max.orElse(0L)
      finally s.close()
    }
  }

  /** Per-table staleness fingerprint of the source dir. Size AND mtime:
    * mtime alone misses a regenerated table restored with an old
    * timestamp (mv / rsync -t), size alone misses a same-size rewrite;
    * together they catch everything short of a deliberate same-size
    * same-mtime forgery, which the driver (writing tables in place)
    * never produces. Stored inside _RELAID_OK so the check compares
    * against what was actually re-laid, not against a wall clock. */
  private def sourceFingerprint(sfDir: String): String =
    Tables.names.sorted.map { t =>
      val p = java.nio.file.Paths.get(sfDir, s"$t.parquet")
      s"$t:${newestMtime(p)}:${totalSize(p)}"
    }.mkString("\n")

  private def ensureRelaid(spark: SparkSession, sfDir: String, n: Int): String = {
    import java.nio.file.{Files, Paths}
    // 128-bit pathKey, not String.hashCode: a 32-bit key can alias two
    // (sfDir, n) pairs and silently bench the wrong data (the same
    // pattern StreamOps already replaced for its staging dirs)
    val tag = TmpDirs.pathKey(s"$sfDir#$n")
    // relaid4: size-proportional split counts (see splitCount) — a new
    // prefix so caches from the flat per-core policy never serve
    val dir = Paths.get(sys.props("java.io.tmpdir"), s"graft-relaid4-$tag")
    val done = dir.resolve("_RELAID_OK")
    // invalidate when the driver regenerated a source table after the
    // re-lay: a stale copy would get timed against a fresh oracle. The
    // marker stores the source fingerprint (recursive size+mtime per
    // table) taken at re-lay time; any drift — including a regenerated
    // table restored with an old mtime — re-lays.
    val fp = sourceFingerprint(sfDir)
    val stale = Files.exists(done) &&
      new String(Files.readAllBytes(done), "UTF-8") != fp
    if (stale) {
      System.err.println(s"[bench] source tables newer than re-laid cache $dir — re-laying")
      TmpDirs.deleteRecursively(dir.toFile)
    }
    if (!Files.exists(done)) {
      Files.createDirectories(dir)
      Tables.names.foreach { t =>
        val out = dir.resolve(s"$t.parquet")
        if (RelaidSplit(t)) {
          val src = Paths.get(sfDir, s"$t.parquet")
          val nf = splitCount(totalSize(src), n)
          System.err.println(s"[bench] re-laying $t into $nf files")
          Tables.load(spark, sfDir, t).repartition(nf)
            .write.mode("overwrite").parquet(out.toString)
        } else if (!Files.exists(out, java.nio.file.LinkOption.NOFOLLOW_LINKS))
          Files.createSymbolicLink(out, Paths.get(sfDir, s"$t.parquet"))
      }
      // store the PRE-relay fingerprint: if the driver rewrote a source
      // while we were copying, the next run's fresh fingerprint differs
      // from this snapshot and re-lays again (fail-stale, not
      // fail-fresh)
      Files.write(done, fp.getBytes("UTF-8"))
    }
    dir.toString
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) -1.0
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** Current git HEAD, embedded in the artifact as `"head"` so a later
    * run can recognize (and skip) an archive produced by the same code.
    * Empty when git is unavailable — then the skip is simply inert. */
  private[graft] lazy val gitHead: String =
    try {
      val p = new ProcessBuilder("git", "rev-parse", "HEAD")
        .redirectErrorStream(true).start()
      val out = new String(p.getInputStream.readAllBytes, "UTF-8").trim
      if (p.waitFor() == 0 && out.matches("[0-9a-f]{40}")) out else ""
    } catch { case scala.util.control.NonFatal(_) => "" }

  /** Previous headline archive → its per-query seconds, for the
    * in-artifact normalized ratio. `SPARK_GRAFT_BENCH_PREV` wins
    * unconditionally; otherwise the highest-N BENCH_r{N}.json in cwd
    * whose recorded `"head"` differs from the current HEAD — once the
    * driver archives this round's run, a same-binary re-run would
    * otherwise compare against itself and report a meaningless ~1.0
    * cross-round ratio. Archives that pre-date the `"head"` field are
    * never skipped. */
  /** Baseline-candidate order — the same picker semantics as
    * `scripts/bench_gate.sh`: newest round first, and at the same
    * round the gate's own archive (`_gate`, written by the gate
    * script, always parseable) preferred over the driver's (may be
    * tail-truncated with parsed=null). Unparseable and same-HEAD
    * candidates are skipped downstream, so a committed artifact
    * annotates itself against the adjacent round's baseline instead of
    * falling back several rounds when the driver archive is broken
    * (the round-10 crying-wolf post-mortem). Pinned in
    * BenchPolicySpec. */
  private[graft] def prevCandidateOrder(names: Seq[String]): Seq[String] = {
    val re = "^BENCH_r(\\d+)(_gate)?\\.json$".r
    names.flatMap {
      case n @ re(round, gate) =>
        Some(((round.toInt, if (gate != null) 1 else 0), n))
      case _ => None
    }.sortBy { case ((r, g), _) => (-r, -g) }.map(_._2)
  }

  private def prevArchive(): Option[(String, Map[String, Double])] = {
    def parse(file: java.io.File): Option[(String, Map[String, Double], String)] =
      try {
        val m = new com.fasterxml.jackson.databind.ObjectMapper
        var node = m.readTree(file)
        if (node.has("parsed")) node = node.get("parsed")
        val head = Option(node.get("head")).map(_.asText()).getOrElse("")
        Option(node.get("queries")).map { q =>
          val it = q.properties().iterator()
          val out = Map.newBuilder[String, Double]
          while (it.hasNext) {
            val e = it.next()
            if (e.getValue.asDouble() >= 0) out += e.getKey -> e.getValue.asDouble()
          }
          (file.getName, out.result(), head)
        }
      } catch { case scala.util.control.NonFatal(_) => None }
    sys.env.get("SPARK_GRAFT_BENCH_PREV").map(new java.io.File(_)) match {
      case Some(f) => parse(f).map { case (n, q, _) => (n, q) }
      case None =>
        val files = Option(new java.io.File(".").listFiles())
          .getOrElse(Array.empty).map(f => f.getName -> f).toMap
        val candidates = prevCandidateOrder(files.keys.toSeq)
          .iterator.flatMap(n => parse(files(n)))
        candidates.collectFirst {
          case (name, qs, head) if head.isEmpty || gitHead.isEmpty || head != gitHead =>
            (name, qs)
        }
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.cores
    val spark = GraftSession.build(cpus)
    // SPARK_GRAFT_BENCH_ONLY=a,b,c: bench exactly those queries under
    // the same warmup/min-of-N harness — the apples-to-apples re-check
    // for a flagged regression (ProfileJobs' cold-JVM numbers are not
    // comparable to bench numbers)
    val fullSurface = sys.env.get("SPARK_GRAFT_BENCH_ALL").contains("1")
    // the gate run carries K rotated non-headline queries this round
    // (see rotatedQueries); recorded in the artifact as "rotated"
    val rotated: Seq[String] = sys.env.get("SPARK_GRAFT_BENCH_ONLY") match {
      case None if !fullSurface =>
        // SPARK_GRAFT_BENCH_ROUND pins the rotation explicitly; without
        // it the round derives from CORRECTNESS_r*.json in the process
        // CWD, which silently reads 1 (same rotated slice every round,
        // defeating the rotation's coverage goal) when the bench runs
        // outside the archive root — warn loud in that case
        val round = sys.env.get("SPARK_GRAFT_BENCH_ROUND") match {
          case Some(r) => r.trim.toInt
          case None =>
            val cwd = Option(new java.io.File(".").list()).getOrElse(Array.empty)
            if (!cwd.exists(_.matches("^CORRECTNESS_r\\d+\\.json$")))
              System.err.println("Bench: no CORRECTNESS_r*.json in cwd — " +
                "rotation round defaults to 1 (same rotated slice every " +
                "run); run from the archive root or set " +
                "SPARK_GRAFT_BENCH_ROUND")
            currentRound(cwd.toSeq)
        }
        rotatedQueries(SparkEntry.queries.keys.toSeq, Headline, round)
      case _ => Nil
    }
    val names = sys.env.get("SPARK_GRAFT_BENCH_ONLY") match {
      case Some(list) =>
        val only = list.split(',').map(_.trim).filter(_.nonEmpty)
        val missing = only.filterNot(SparkEntry.queries.contains)
        require(missing.isEmpty, s"unknown bench queries: ${missing.mkString(",")}")
        only.toSeq
      case None =>
        if (fullSurface) SparkEntry.queries.keys.toSeq.sorted
        else Headline.filter(SparkEntry.queries.contains) ++ rotated
    }
    import scala.util.control.NonFatal
    // SPARK_GRAFT_BENCH_RELAY=0 opts out (times the raw layout only);
    // prep failure falls back to raw rather than failing the bench
    val relaidDir: Option[String] =
      if (sys.env.get("SPARK_GRAFT_BENCH_RELAY").contains("0")) None
      else try Some(ensureRelaid(spark, sfDir, cpus))
      catch { case NonFatal(e) =>
        System.err.println(s"[bench] relay prep failed, timing raw layout: $e")
        None
      }
    val benchDir = relaidDir.getOrElse(sfDir)
    val runs = sys.env.get("SPARK_GRAFT_BENCH_RUNS").map(_.toInt).getOrElse(
      // full-surface sweeps bound wall time with fewer reps; the
      // headline set gets the full median-of-5 treatment
      if (sys.env.get("SPARK_GRAFT_BENCH_ALL").contains("1")) 2 else timedRuns)
    // release eagerly-cached state (localCheckpoint RDDs) after every
    // run: each execution of a checkpointing query pins another RDD
    // copy, and the accumulated heap pressure bleeds into later
    // samples (llm06/llm08 drifted +30-90% across iterations until
    // the copies were dropped). BLOCKING: async removal would defer
    // the block-drop work into the next sample's timed window
    def release(): Unit =
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    // per query: warm BOTH layouts once (codegen + JIT + plan cache),
    // then INTERLEAVE the timed reps across layouts (A/B/A/B, not
    // AAA/BBB): round 8's archive sampled each series in one contiguous
    // host window, so a transient spike landed entirely on one series
    // and read as a 3.5x single-query regression that three same-HEAD
    // series contradicted. Interleaving spreads any host window across
    // both series and the per-query MEDIAN absorbs it.
    val dirs: Seq[String] =
      benchDir +: (if (relaidDir.isDefined) Seq(sfDir) else Nil)
    val perQuery: Seq[(String, Seq[(Double, Boolean)], Double)] = names.map { name =>
      val fn = SparkEntry.queries(name)
      def once(dir: String): (Double, Boolean) = {
        val t0 = System.nanoTime()
        val ok = try { fn(spark, dir).count(); true } catch { case NonFatal(_) => false }
        val dt = (System.nanoTime() - t0) / 1e9
        release()
        (dt, ok)
      }
      dirs.foreach { d =>
        try { fn(spark, d).count() } catch { case NonFatal(_) => () }
        release()
      }
      val reps: Seq[Seq[(Double, Boolean)]] = (1 to runs).map(_ => dirs.map(once))
      // full-surface hygiene (round-15 post-mortem: 239 queries in one
      // JVM let accumulated cached relations + GC debt distort later
      // queries 5-23× in the ARCHIVE while isolation read them flat):
      // drop every cached relation this query pinned and let the heap
      // settle before the next query's samples. Gate runs skip the
      // forced GC — 48 queries never built that debt, and the pause
      // would just lengthen the quiet window.
      if (sys.env.get("SPARK_GRAFT_BENCH_ALL").contains("1")) {
        spark.catalog.clearCache()
        release()
        // streaming residue: unload finished queries' state-store
        // providers (the maintenance pool keeps iterating them and
        // their memory stays pinned — the r16 full run measured the
        // str* family 1.7-2.7x in-run vs flat isolation A/Bs) and
        // clear the terminated-query registry
        org.apache.spark.sql.graftbridge.Bridge.unloadStateStores()
        spark.streams.resetTerminated()
        System.gc()
      }
      val byDir = dirs.indices.map { i =>
        val s = reps.map(_(i))
        (median(s.map(_._1)), s.forall(_._2))
      }
      // within-run sample spread (max/min across the headline series'
      // reps): the in-artifact noise floor — a cross-round delta smaller
      // than a query's own spread is not evidence of a plan change
      val hs = reps.map(_.head._1)
      val spread = if (hs.min > 0) hs.max / hs.min else -1.0
      (name, byDir, spread)
    }
    val results: Seq[(String, Double, Boolean)] =
      perQuery.map { case (n, ds, _) => (n, ds.head._1, ds.head._2) }
    val spreads: Seq[(String, Double)] =
      perQuery.map { case (n, _, sp) => (n, sp) }
    val rawResults: Option[Seq[(String, Double, Boolean)]] =
      if (dirs.length > 1)
        Some(perQuery.map { case (n, ds, _) => (n, ds(1)._1, ds(1)._2) })
      else None
    // Locale.ROOT: the f"" interpolator is locale-sensitive and a comma
    // decimal separator would break the driver's JSON parse.
    def r3(v: Double): String = String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val qs = results.map { case (k, v, ok) => "\"" + k + "\":" + (if (ok) r3(v) else "-1") }
      .mkString("{", ",", "}")
    val anyFailed = results.exists(!_._3)
    val failed = results.collect { case (k, _, false) => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    // a run with failures must not look like a (faster) healthy run to a
    // consumer that only reads `value` — publish a sentinel total
    val total =
      if (anyFailed) -1.0 else results.collect { case (_, v, true) => v }.sum
    // the raw-layout series rides alongside (same rep count, samples
    // interleaved with the headline series) so environment vs plan
    // regressions stay separable
    val rawPart = rawResults match {
      case None => ""","relaid":false"""
      case Some(rs) =>
        val rq = rs.map { case (k, v, ok) =>
          "\"" + k + "\":" + (if (ok) r3(v) else "-1") }.mkString("{", ",", "}")
        val rTotal = if (rs.exists(!_._3)) -1.0 else rs.map(_._2).sum
        s""","relaid":true,"relaid_policy":"bytes/4MiB,min2,max-cpus","value_raw":${r3(rTotal)},"queries_raw":$rq"""
    }
    def r2(v: Double): String = String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
    val spreadPart = ""","spread":""" + spreads.map { case (k, sp) =>
      "\"" + k + "\":" + (if (sp > 0) r2(sp) else "-1") }.mkString("{", ",", "}")
    // in-artifact comparison vs the previous round's headline archive:
    // prev_median_ratio estimates ambient host drift (every query moves
    // by ≈ the same factor), prev_norm_total_ratio divides it out — the
    // BenchDelta normalization, embedded so a one-window host spike can
    // never masquerade as a plan regression in the archive itself
    val prevPart = prevArchive().map { case (fname, prev) =>
      val cur = results.collect { case (k, v, true) => k -> v }.toMap
      val common = (prev.keySet & cur.keySet).toSeq.sorted
      val ratios = common.collect { case q if prev(q) > 0.05 => cur(q) / prev(q) }
      if (ratios.isEmpty) ""
      else {
        val med = median(ratios)
        val tot = common.map(cur).sum / common.map(prev).sum
        s""","prev":"$fname","prev_total_ratio":${r3(tot)},"prev_median_ratio":${r3(med)},"prev_norm_total_ratio":${r3(tot / med)}"""
      }
    }.getOrElse("")
    // runs/warmup/agg declared so a consumer can tell median-of-N
    // steady-state numbers from cold single-shots across rounds
    val headPart = if (gitHead.isEmpty) "" else s""","head":"$gitHead""""
    val rotatedPart =
      if (rotated.isEmpty) ""
      else rotated.map("\"" + _ + "\"").mkString(""","rotated":[""", ",", "]")
    println(s"""{"metric":"total","value":${r3(total)},"unit":"sec","queries":$qs,"failed":$failed,"runs":$runs,"warmup":1,"agg":"median","sf":"$sfDir"$headPart$rotatedPart$rawPart$spreadPart$prevPart}""")
    spark.stop()
  }
}
