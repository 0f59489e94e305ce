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
            formatted.getBytes("UTF-8"))
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
}
