package graft.tools

import graft.Tables
import graft.ops.Similarity
import org.apache.spark.sql.functions._

/** Round-tracked IVF drift observability probe (DESIGN.md §"ANN recall
  * tracking" workflow): builds the llm65-shaped HONEST append index
  * (held-out 10% appended with their real vectors) and the llm71-shaped
  * DRIFTED one (the same 10% collapsed onto one direction), prints one
  * `ivfDriftReport` row per index. The healthy index must not cry wolf;
  * the drifted one must advise rebuild (at the llm71 threshold) — the
  * pair recorded per round so advisory drift is measured, not assumed.
  *
  * Run: `sbt "runMain graft.tools.IvfDriftProbe /root/testdata/sf0.1"`.
  */
object IvfDriftProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val spark = graft.GraftSession.build(8)
    val emb = Tables.load(spark, sfDir, "embeddings")
    def report(tag: String, drifted: Boolean): Unit = {
      val idx = java.nio.file.Files.createTempDirectory(s"ivf-probe-$tag").toString
      Similarity.buildIvfIndex(emb.filter(col("vec_id") % 10 =!= 9), idx,
        kClusters = 16)
      val batch = emb.filter(col("vec_id") % 10 === 9)
      Similarity.appendToIvfIndex(spark, idx,
        if (drifted) batch.withColumn("embedding", array_repeat(lit(1.0f), 64))
        else batch)
      val r = Similarity.ivfDriftReport(spark, idx, maxOverMedian = 2.0)
        .collect().head
      println(s"DRIFT $tag sf=$sfDir n_cells=${r.getAs[Long]("n_cells")} " +
        s"empty=${r.getAs[Long]("n_empty_cells")} live=${r.getAs[Long]("total_live")} " +
        f"max=${r.getAs[Long]("max_cell")} skew=${r.getAs[Double]("skew_ratio")}%.2f " +
        s"advise_rebuild=${r.getAs[Boolean]("advise_rebuild")}")
      graft.TmpDirs.deleteRecursively(new java.io.File(idx))
    }
    report("append", drifted = false)
    report("drifted", drifted = true)
    spark.stop()
  }
}
