package graft.tools

/** Batch plan dumper for the optimization rounds:
  * `runMain graft.tools.ExplainAll <outDir> [sfDir] [name1,name2,...]`
  *
  * Writes `<outDir>/<query>.txt` with the formatted physical plan of
  * every (or each named) batch query, plus a one-line-per-query
  * `summary.tsv` (Exchange count, join strategies, scan count) so a
  * whole-surface triage — "which plans have an exchange they should
  * not" — is one run instead of one plan dump per query. Streaming
  * QDefs are skipped (their micro-batch plans are audited by
  * PlanLint's @stream path).
  *
  * The per-query files are written through [[stable]], so two runs over
  * the same data write byte-identical files: expression ids (`#123`),
  * RDD ids (`MapPartitionsRDD[45]`) and exchange plan ids (`plan_id=7`)
  * are renumbered in order of first appearance; the JVM's pid and the
  * bucketed fixtures' per-JVM tag read `<pid>` and `<jvm>` (the pid
  * only as a temp or checkpoint directory name's `-<pid>`); the random
  * part of a temp-dir name reads `<tmp>`; object identity hashes
  * (`[D@4237d6e4`) read `@<hash>` and lambda class names `$$Lambda`.
  * What remains run-dependent is operator order that itself follows
  * expression ids: the `Expand` of q12 and of llm36 lists the
  * projections of their distinct aggregates in expression-id order,
  * which can flip from one sweep to the next. A diff of those two
  * plans must be read, not trusted.
  */
object ExplainAll {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.001"
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(',').map(_.trim).toSet) else None
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    val spark = graft.GraftSession.build(8)
    val names = graft.SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    val summary = new StringBuilder
    summary ++= "query\texchanges\tsmj\tshj\tbhj\tbnlj\tscans\tsorts\twindows\n"
    names.foreach { name =>
      try {
        val df = graft.SparkEntry.queries(name)(spark, sfDir)
        if (!df.isStreaming) {
          val qe = df.queryExecution
          val formatted = qe.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          java.nio.file.Files.write(
            java.nio.file.Paths.get(outDir, s"$name.txt"),
            stable(formatted).getBytes("UTF-8"))
          val p = qe.executedPlan.toString
          def c(pat: String) = PlanLint.countOccurrences(p, pat)
          summary ++= s"$name\t${c("Exchange ")}\t${c("SortMergeJoin")}\t" +
            s"${c("ShuffledHashJoin")}\t${c("BroadcastHashJoin")}\t" +
            s"${c("BroadcastNestedLoopJoin")}\t${c("Scan parquet")}\t" +
            s"${c("Sort ")}\t${c("Window")}\n"
        } else summary ++= s"$name\t(streaming)\n"
      } catch {
        case e: Exception =>
          summary ++= s"$name\tERROR ${e.getClass.getSimpleName}: " +
            s"${Option(e.getMessage).getOrElse("").take(80)}\n"
      }
    }
    java.nio.file.Files.write(
      java.nio.file.Paths.get(outDir, "summary.tsv"),
      summary.toString.getBytes("UTF-8"))
    println(s"wrote ${names.length} plans to $outDir")
    spark.stop()
  }

  /** `plan` with its run-specific tokens replaced (see the object doc). */
  def stable(plan: String): String = {
    val pid = ProcessHandle.current().pid().toString
    val tmp = java.util.regex.Pattern.quote(
      new java.io.File(sys.props("java.io.tmpdir")).getPath)
    // the pid only where TmpDirs puts it: a path component's `-<pid>`
    val s0 = plan.replaceAll(raw"(/[^\s/\[\],]*-)$pid(?=[-/\],\s]|$$)", "$1<pid>")
      .replace(graft.queries.ScaleTechniques.jvmTag, "<jvm>")
      .replaceAll(s"($tmp/[A-Za-z_-]*?)[0-9]{8,}", "$1<tmp>")
      .replaceAll("@[0-9a-f]{4,}\\b", "@<hash>")
      .replaceAll("\\$\\$Lambda[^\\s,)\\]]*", "\\$\\$Lambda")
    Seq("(#)([0-9]+)", "(RDD\\[)([0-9]+)(?=\\])", "(plan_id=)([0-9]+)")
      .foldLeft(s0)((s, pat) => renumber(s, pat.r))
  }

  /** Each distinct number the pattern's second group matched becomes
    * its first-appearance ordinal; the first group stays as matched. */
  private def renumber(s: String, pat: scala.util.matching.Regex): String = {
    val ids = scala.collection.mutable.HashMap.empty[String, Int]
    pat.replaceAllIn(s, { m =>
      val n = ids.getOrElseUpdate(m.group(2), ids.size + 1)
      scala.util.matching.Regex.quoteReplacement(m.group(1) + n)
    })
  }
}
