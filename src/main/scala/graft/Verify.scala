package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  * `runMain graft.Verify <sfDir> <outDir> [name1,name2,...]`: with the
  * optional name filter only those queries run, and only their oracles
  * are written, so scripts/check_oracle.py compares exactly that subset.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    // the driver passes two args = run all
    val (sfDir, outDir, only) = args match {
      case Array(a, b) => (a, b, None)
      case Array(a, b, c) =>
        val names = c.split(',').map(_.trim).filter(_.nonEmpty).toSet
        val missing = names.filterNot(SparkEntry.queries.contains)
        require(missing.isEmpty, s"unknown verify queries: ${missing.toSeq.sorted.mkString(",")}")
        (a, b, Some(names))
    }
    def selected(name: String): Boolean = only.forall(_.contains(name))
    val spark = GraftSession.build()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => selected(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (name, _) => selected(name) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
