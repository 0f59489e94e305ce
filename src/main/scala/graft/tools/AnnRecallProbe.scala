package graft.tools

import graft.Tables
import graft.ops.Similarity
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Recall tracker for every ANN variant vs exact brute-force top-k.
  *
  * Two outputs per variant at a given sfDir:
  *   - `RECALL <variant> sf=<dir> k=<k> n_queries=<n> recall=<x>` —
  *     mean over checked queries of |ANN∩exact|/k, the round-tracked
  *     number recorded in DESIGN.md §"ANN recall tracking" so
  *     approximation quality is measured each round, not assumed.
  *   - `PROBE <variant> ... min=<m> q:n ...` — per-query match counts
  *     for the checked (% 250) subset, used to set the annGate bounds
  *     empirically.
  *
  * Run: `sbt "runMain graft.tools.AnnRecallProbe /root/testdata/sf0.1"`.
  */
object AnnRecallProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val k = if (args.length > 1) args(1).toInt else 10
    val spark = graft.GraftSession.build(8)
    val emb = Tables.load(spark, sfDir, "embeddings")
    val queries = emb.filter(col("vec_id") % 50 === 0)
    val exact = Similarity.bruteForceTopK(
      emb, emb.filter(col("vec_id") % 250 === 0), k)
      .select(col("query_id"), col("neighbor_id")).withColumn("in_exact", lit(1))
    // knobs match the SHIPPED query surface (llm09/llm18/llm16/llm41/
    // llm42) — the tracked number is the quality users actually get,
    // not a differently-tuned shadow config
    val variants: Seq[(String, DataFrame)] = Seq(
      "lsh" -> Similarity.lshTopK(emb, queries, k = k, nPlanes = 4),
      "lshmulti" -> Similarity.lshTopKMulti(emb, queries, k = k,
        nTables = 16, planesPerTable = 4),
      "ivf" -> Similarity.ivfTopK(emb, queries, k = k, kClusters = 16, nProbe = 10),
      "pq" -> Similarity.pqTopK(emb, queries, k = k, m = 16, ksub = 16,
        rerank = 16),
      "ivfpq" -> Similarity.ivfPqTopK(emb, queries, k = k, kClusters = 32,
        nProbe = 20, m = 16, ksub = 64, rerank = 16))
    variants.foreach { case (name, ann) =>
      // left join FROM the checked queries: a query with zero ANN
      // matches must report 0, not vanish from the min (an inner join
      // would overstate the empirical minimum these bounds are set from)
      val m = exact.select(col("query_id")).distinct()
        .join(ann.join(exact, Seq("query_id", "neighbor_id"))
          .groupBy("query_id").agg(count(lit(1)).as("n_match")),
          Seq("query_id"), "left")
        .select(col("query_id"), coalesce(col("n_match"), lit(0L)).as("n_match"))
      val rows = m.collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
      val recall =
        if (rows.isEmpty) -1.0
        else rows.map(_._2).sum.toDouble / (rows.length.toLong * k)
      println(f"RECALL $name%-8s sf=$sfDir k=$k n_queries=${rows.length} " +
        f"recall=$recall%.3f")
      println(s"PROBE $name $sfDir min=${if (rows.nonEmpty) rows.map(_._2).min else -1} " +
        rows.map { case (q, n) => s"$q:$n" }.mkString(" "))
    }
    spark.stop()
  }
}
