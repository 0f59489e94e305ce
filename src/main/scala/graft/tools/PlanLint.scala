package graft.tools

/** Automated plan audit over the ENTIRE query surface — the "would this
  * survive 100x?" check as a tool instead of a per-round manual sweep.
  *
  * `runMain graft.tools.PlanLint [sfDir] [nameFilter]`
  *
  * For every SparkEntry query, builds the DataFrame against `sfDir`
  * (default sf0.001) and greps the PHYSICAL plan for the anti-patterns
  * that do not survive scale. The STREAMING surface is audited too:
  * building a streaming QDef drains its query into a memory sink, which
  * records the last micro-batch's EXECUTED plan in [[StreamPlanAudit]]
  * — that plan (state stores, stream-stream joins, their exchanges) is
  * linted under the `<name>@stream` allowlist key next to the batch
  * plan (which for those queries is just the memory-sink scan).
  * Anti-patterns:
  *
  *   - CartesianProduct        — unbounded pair blowup
  *   - BroadcastNestedLoopJoin — O(n*m) compare without an equi-key
  *   - SortAggregate           — an aggregate whose buffer Spark cannot
  *     hash (a struct, array or string `max_by`/`first`): every input
  *     row is sorted by the group key on both sides of the shuffle,
  *     where a hash aggregate or one window does one sort or none
  *   - Exchange SinglePartition over NON-reduced input — a one-task
  *     stage that serializes the whole input through one core (a
  *     global window / repartition(1) shape). The partials-merge form
  *     — SinglePartition feeding a Final aggregate whose input is
  *     already partial-aggregated to O(#partitions) rows — is the
  *     sound scalar-aggregate shape and passes.
  *
  * Prints one line per offender with the matched fragment. Exit 1 if
  * any query outside the recorded allowlist trips — so the check can
  * gate a round. The allowlist entries each carry the justification;
  * an empty allowlist is the goal state and currently holds.
  */
object PlanLint {

  /** (query, pattern) pairs accepted with a recorded reason AND an
    * audited occurrence COUNT — the round-10 audit of every hit,
    * recounted in round 11 when matching moved from boolean
    * plan.contains to occurrence counting (the boolean form let a
    * second, unaudited BNLJ hide behind the first). A
    * BroadcastNestedLoopJoin is sound exactly when its broadcast side
    * is SMALL BY CONTRACT (a query set, a sketch, a scalar, a
    * dimension table) — the op never replicates the corpus; each
    * entry names that contract and pins how many such stages the
    * audited plan has. One MORE occurrence than the pinned count
    * fails the lint. New hits (and any CartesianProduct, never
    * allowed) fail too. */
  private val Allow: Map[(String, String), (String, Int)] = {
    val bnlj = "BroadcastNestedLoopJoin"
    // every BNLJ in the ANN family broadcasts a by-contract-small
    // frame (query set / probe cells / PQ codebook LUT); the corpus
    // side streams once per stage (Similarity scaladoc). Round-11
    // recount: the annGate brute-verify subtree is now localCheck-
    // pointed (computed once, surfaces as an ExistingRDD leaf), so
    // gate-only users (llm16/42/45/65/67/70, str12) show NO BNLJ in
    // the main plan anymore — only queries whose OWN search path
    // cross-joins the broadcast query set remain here.
    val knn = "query set / probe cells / codebook broadcast by " +
      "contract; corpus side streams once per stage (Similarity scaladoc)"
    Map(
      ("llm09_knn_brute", bnlj) -> (knn, 1),
      ("llm41_knn_pq", bnlj) -> (knn, 1),
      ("llm64_knn_filtered", bnlj) -> (knn, 1),
      ("llm20_embed_neardup_exact", bnlj) ->
        ("exact-verify stage: candidate pairs broadcast (LSH-pruned, ≪ corpus)", 1),
      ("llm19_jaccard_block", bnlj) ->
        ("prefix-filter candidates broadcast (pigeonhole-pruned, ≪ n²)", 1),
      ("llm26_tfidf_topterms", bnlj) ->
        ("1-row corpus-size scalar cross join", 1),
      ("llm71_ivf_drift_report", bnlj) ->
        ("1-row drift report × 1-row appended-count scalar cross join", 1),
      ("cdc19_multi_source_identity", bnlj) ->
        ("per-source watermark frame (≤ #sources rows) broadcast", 1),
      ("q09_cross_join", bnlj) ->
        ("the cross-join capability itself, region×nation (tiny dims)", 1),
      ("q10_theta_join", bnlj) ->
        ("non-equi theta join with a broadcast dimension side", 1),
      ("q53_sample", bnlj) ->
        ("1-row sampling-threshold scalar cross join", 1),
      ("q61_heavy_hitters_cms", bnlj) ->
        ("merged CMS sketch (1 row) cross join", 1),
      ("q62_kmv_distinct", bnlj) ->
        ("merged KMV sketch (1 row) cross join", 1),
      ("q74_funnel", bnlj) ->
        ("per-stage 1-row scalar counts: one cross join per funnel-stage pair", 2)) ++ {
      val sp = "SinglePartition"
      val cumsum = "bucket-offset cumsum: the exchange input is the " +
        "per-__bucket totals — O(#buckets) rows by construction (fixed " +
        "small bucket count; GlobalOrder/Packing two-level design)"
      Map(
        ("llm23_sequence_pack", sp) -> (cumsum, 1),
        ("llm43_multimodal_pairs", sp) -> (cumsum, 1),
        ("llm55_token_budget", sp) -> (cumsum, 1))
    } ++ Map(
      ("llm18_knn_lsh_multitable", "SortAggregate") ->
        ("dropDuplicates over LSH candidate pairs keeps each pair's array " +
          "embeddings through first(), whose buffer is not hashable; partial " +
          "and final sides of the one dedup over the LSH-pruned candidates", 2))
  }

  private val Patterns = Seq(
    "CartesianProduct",
    "BroadcastNestedLoopJoin",
    "SortAggregate")

  /** Count of non-overlapping occurrences of `pat` in `plan`. */
  private[graft] def countOccurrences(plan: String, pat: String): Int = {
    var n = 0
    var i = plan.indexOf(pat)
    while (i >= 0) { n += 1; i = plan.indexOf(pat, i + pat.length) }
    n
  }

  /** The plan lines containing `pat`, trimmed — audit detail for the
    * occurrence report (which join/exchange each count refers to). */
  private def matchLines(plan: String, pat: String): Seq[String] =
    plan.linesIterator.filter(_.contains(pat))
      .map(_.dropWhile(c => c == ' ' || c == '+' || c == '-' || c == ':'
        || c == '*' || c == '(' || c.isDigit || c == ')').take(100))
      .toSeq

  /** EVERY SinglePartition exchange whose direct child is NOT a PARTIAL
    * aggregate (i.e. the rows entering the one-task stage are not
    * already partial-reduced to O(#partitions)), as (childFragment)s.
    * Requiring `partial_` matters: a FINAL keyed aggregate child means
    * the exchange funnels O(#groups) rows — unbounded at scale, the
    * exact one-task shape the lint exists to catch. Text-level: in the
    * rendered tree the child is the next line, one level deeper —
    * robust under AQE's Initial/Final plan sections. Returning ALL
    * offenders (not the first) lets the caller count them against the
    * allowlist, so an allowed query can't mask a second one. */
  private[graft] def singlePartitionOffenses(plan: String): Seq[String] = {
    val lines = plan.linesIterator.toArray
    def partialAgg(l: String) =
      (l.contains("HashAggregate") || l.contains("SortAggregate") ||
        l.contains("ObjectHashAggregate")) && l.contains("partial_")
    lines.zipWithIndex.collect {
      case (l, i) if l.contains("Exchange SinglePartition") &&
          (i + 1 >= lines.length || !partialAgg(lines(i + 1))) =>
        if (i + 1 < lines.length) lines(i + 1).trim.take(90) else "(leaf)"
    }.toSeq
  }

  /** Lint one rendered physical plan under the allowlist key
    * `auditName` (batch queries by name; streaming micro-batch plans
    * as `<name>@stream`; maintenance ops as `<op>#<n>` — distinct keys
    * so audits never mask each other). Returns the offender count.
    * Shared by the query-surface main here and by
    * [[MaintPlanLint]] (the maintenance-op audit). */
  private[tools] def lintPlan(auditName: String, plan: String,
      allow: Map[(String, String), (String, Int)]): Int = {
    var b = 0
    Patterns.foreach { p =>
      val n = countOccurrences(plan, p)
      if (n > 0) {
        allow.get((auditName, p)) match {
          case Some((why, allowed)) if n <= allowed =>
            println(s"ALLOW $auditName: $p x$n ($why)")
          case Some((why, allowed)) =>
            b += 1
            println(s"FAIL  $auditName: $p x$n exceeds audited " +
              s"x$allowed (allowlisted for: $why); occurrences: " +
              matchLines(plan, p).mkString(" | "))
          case None =>
            b += 1
            println(s"FAIL  $auditName: $p x$n; occurrences: " +
              matchLines(plan, p).mkString(" | "))
        }
      }
    }
    val spOff = singlePartitionOffenses(plan)
    if (spOff.nonEmpty) {
      allow.get((auditName, "SinglePartition")) match {
        case Some((why, allowed)) if spOff.length <= allowed =>
          println(s"ALLOW $auditName: SinglePartition x${spOff.length} ($why)")
        case Some((why, allowed)) =>
          b += 1
          println(s"FAIL  $auditName: SinglePartition x${spOff.length} " +
            s"exceeds audited x$allowed (allowlisted for: " +
            s"$why); over ${spOff.mkString("; ")}")
        case None =>
          b += 1
          spOff.foreach(frag => println(
            s"FAIL  $auditName: Exchange SinglePartition over $frag"))
      }
    }
    b
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val only = args.drop(1).headOption
    val spark = graft.GraftSession.build(4)
    var bad = 0
    var checked = 0
    var streamChecked = 0
    def lintOne(auditName: String, plan: String): Int =
      lintPlan(auditName, plan, Allow)

    val names = graft.SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(n.contains))
    names.foreach { name =>
      try {
        val df = graft.SparkEntry.queries(name)(spark, sfDir)
        if (!df.isStreaming) {
          checked += 1
          bad += lintOne(name, df.queryExecution.executedPlan.toString)
          // the streaming QDefs drain their query into a memory sink
          // while BUILDING the df above, recording the last micro-batch's
          // EXECUTED plan (state stores, stream joins, exchanges) under
          // the query-name prefix — the plan the batch-side audit can't
          // see (it gets the memory scan). Lint it as its own surface.
          StreamPlanAudit.get(name.split("_").head).foreach { sp =>
            streamChecked += 1
            bad += lintOne(s"$name@stream", sp)
          }
        } else println(s"SKIP  $name: streaming")
      } catch {
        case e: Exception =>
          // planning must not fail either — an unbuildable query is a bug
          bad += 1
          println(s"FAIL  $name: planning threw ${e.getClass.getSimpleName}: " +
            s"${Option(e.getMessage).getOrElse("").take(120)}")
      }
    }
    println(s"plan-lint: $checked batch plans + $streamChecked streaming " +
      s"micro-batch plans checked, $bad offenders")
    spark.stop()
    if (bad > 0) sys.exit(1)
  }
}
