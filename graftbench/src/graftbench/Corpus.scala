package graftbench

import java.io.File

import scala.collection.mutable

import graft.ops.{Dedup, Similarity}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** `corpus_ops`: one client in a closed loop over a persisted IVF index of
  * seeded clustered embeddings and a near-dup index of seeded documents.
  * Ops repeat the `Cycle`: five `ivfTopKFromIndex` serves (a small
  * query batch, k=10), one `appendToIvfIndex` of a small batch of fresh
  * vectors (the serve after it must return each at rank 1), and one
  * `incrementalNearDupFromIndex` check of a document batch. Writes run beside reads and
  * index state carries across calls, so a serve-side cache that costs
  * appends or serves stale results shows here. Spark driver actions per
  * call and the operator kernels carry the work; no binlog is decoded. */
object Corpus {
  val K = 10
  val ServeQueries = 8
  val Cycle = Seq("serve", "serve", "append", "serve", "serve", "serve", "neardup")
  val AppendBatch = 4
  val NearDupBatch = 200
  val Planted = 20
  val Threshold = 0.8

  private val vecSchema = StructType(Seq(StructField("vec_id", LongType, nullable = false),
    StructField("embedding", ArrayType(FloatType, containsNull = false))))
  private val docSchema = StructType(Seq(StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType)))

  def run(a: Args, r: Result, tr: Tracer): SparkSession = {
    val ivf = new File(a.work, "ivf").getPath
    val nd = new File(a.work, "neardup").getPath
    val embPath = new File(a.inputs, "embeddings").getPath
    val docPath = new File(a.inputs, "documents").getPath
    val (spark, _) = Main.setUp(a, r, tr) { s =>
      Similarity.buildIvfIndex(s.read.parquet(embPath), ivf)
      Dedup.buildNearDupIndex(s.read.parquet(docPath), nd)
    }
    val sc = spark.sparkContext
    def vecs(rows: Seq[(Long, Array[Float])]): DataFrame = spark.createDataFrame(
      java.util.Arrays.asList(rows.map { case (id, v) => Row(id, v.toSeq) }: _*), vecSchema)
    def docs(rows: Seq[(Long, String)]): DataFrame = spark.createDataFrame(
      java.util.Arrays.asList(rows.map { case (id, t) => Row(id, t) }: _*), docSchema)

    val cs = Gen.centers(a.seed)
    // warm-up, untimed: one cycle of each op kind with ids no timed op
    // uses (the same every run, so every run times the same index state),
    // so the timed ops do not run on code the JIT has not compiled yet
    val w0 = System.nanoTime()
    val warmVecs = (1 to AppendBatch).map(i => (Long.MinValue + i) -> Gen.vector(a.seed, cs, -i))
    Similarity.appendToIvfIndex(spark, ivf, vecs(warmVecs))
    (0 until 2).foreach { i =>
      Similarity.ivfTopKFromIndex(spark, ivf,
        vecs(Seq((Long.MinValue + 100 + i) -> Gen.vector(a.seed, cs, i))), K).collect()
    }
    Dedup.incrementalNearDupFromIndex(spark, nd,
      docs((0 until NearDupBatch).map(i => (Long.MinValue + i) -> Gen.document(a.seed ^ 1L, i))),
      Threshold).collect()
    r.info("warmup_s") = Stats.secs(w0)
    val rnd = new java.util.SplittableRandom(a.seed * 104729 + 3)
    var nextVec = 1L << 40
    var nextDoc = 1L << 40
    var nextQuery = -1L
    // the last append's vectors: the next serve must return each at rank 1
    var pending = Seq.empty[(Long, Array[Float])]
    val serveS = mutable.ArrayBuffer.empty[Double]
    val appendS = mutable.ArrayBuffer.empty[Double]
    val nearS = mutable.ArrayBuffer.empty[Double]
    var items = 0L
    val gc0 = Main.gcSeconds()
    val t0 = System.nanoTime()
    var op = 0
    // whole cycles only, so every run measures the same op mix
    while (Stats.secs(t0) < a.seconds || op % Cycle.length != 0) {
      val kind = Cycle(op % Cycle.length)
      op += 1
      if (kind == "append") {
        val batch = (0 until AppendBatch).map { _ =>
          nextVec += 1
          nextVec -> Gen.vector(a.seed ^ 0x7f4a7c15L, cs, nextVec)
        }
        val df = vecs(batch)
        val s0 = System.nanoTime()
        val ok = try {
          tr.op(sc, "append", "ops") { Similarity.appendToIvfIndex(spark, ivf, df) }
          true
        } catch { case e: Exception => r.failures += s"append: $e"; false }
        appendS += Stats.secs(s0)
        r.check(ok, "append failed")
        if (ok) pending = batch
        items += AppendBatch
      } else if (kind == "neardup") {
        val planted = (0 until Planted).map { _ =>
          val src = rnd.nextLong(Gen.Docs)
          nextDoc += 1
          (src, nextDoc)
        }
        val fresh = (0 until NearDupBatch - Planted).map { _ =>
          nextDoc += 1
          nextDoc -> Gen.document(a.seed ^ 0x3c6ef372L, nextDoc)
        }
        val df = docs(planted.map { case (src, id) => id -> Gen.corpusDocument(a.seed, src) } ++ fresh)
        val s0 = System.nanoTime()
        val pairs = tr.op(sc, "neardup", "ops") {
          val q = Dedup.incrementalNearDupFromIndex(spark, nd, df, Threshold)
          val out = q.collect()
          tr.attr("pairs", out.length)
          out
        }
        nearS += Stats.secs(s0)
        val found = pairs.map(p => (p.getLong(0), p.getLong(1)) -> p.getDouble(2)).toMap
        planted.foreach { case (src, id) =>
          val f = found.get((math.min(src, id), math.max(src, id)))
          r.check(f.contains(1.0), s"planted copy $id of document $src: jaccard $f, want 1.0")
        }
        items += NearDupBatch
      } else {
        val probes = (0 until ServeQueries - pending.length).map { _ =>
          val base = Gen.vector(a.seed, cs, rnd.nextLong(Gen.Vectors))
          base.map(x => (x + 0.05 * (rnd.nextDouble() - 0.5)).toFloat)
        }
        val queries = (pending.map(_._2) ++ probes).map { v => nextQuery -= 1; nextQuery -> v }
        val expect = pending.zip(queries).map { case ((id, _), (qid, _)) => qid -> id }.toMap
        val df = vecs(queries)
        val s0 = System.nanoTime()
        val rows = tr.op(sc, "serve", "ops") {
          val q = Similarity.ivfTopKFromIndex(spark, ivf, df, K)
          val out = q.collect()
          if (tr.on) tr.attr("rows_scored", scanned(q, "/ivf/corpus").toDouble)
          out
        }
        serveS += Stats.secs(s0)
        val byQuery = rows.groupBy(_.getAs[Long]("query_id"))
        queries.foreach { case (qid, _) =>
          val hits = byQuery.getOrElse(qid, Array.empty[Row]).sortBy(_.getAs[Int]("rank"))
          val sims = hits.map(_.getAs[Double]("sim"))
          val ranked = hits.length == K && sims.sameElements(sims.sortBy(-_))
          val served = expect.get(qid).forall(id =>
            hits.nonEmpty && hits(0).getAs[Long]("neighbor_id") == id && sims(0) > 0.999999)
          r.check(ranked && served, s"serve query $qid: ${hits.length} hits, " +
            s"top ${hits.headOption.map(h => (h.getAs[Long]("neighbor_id"), h.getAs[Double]("sim")))}" +
            expect.get(qid).map(id => s", want $id at rank 1").getOrElse(""))
        }
        pending = Seq.empty
        items += queries.length
      }
    }
    val windowS = Stats.secs(t0)
    val gcS = Main.gcSeconds() - gc0
    require(serveS.nonEmpty && appendS.nonEmpty && nearS.nonEmpty,
      s"${a.seconds}s measured too little: ${serveS.length} serves, ${appendS.length} " +
        s"appends, ${nearS.length} near-dup checks")
    r.e2e("rows_per_s") = items / windowS
    r.e2e("op_p50_s") = Stats.median(serveS.toSeq)
    r.e2e("op_tail_s") = Stats.pct(serveS.toSeq, 0.9)
    r.e2e("op2_s") = Stats.median(appendS.toSeq)
    r.e2e("op3_s") = Stats.median(nearS.toSeq)
    val indexFiles = indexFileCount(new File(ivf, "corpus"))
    r.info ++= Seq("ops" -> op, "serves" -> serveS.length, "appends" -> appendS.length,
      "neardups" -> nearS.length, "window_s" -> windowS, "index_files" -> indexFiles,
      "vectors" -> Gen.Vectors, "documents" -> Gen.Docs)
    r.layers("spark.gc_s") = gcS
    if (tr.on) {
      tr.drain(sc)
      val serves = tr.opSpans("serve")
      def med(ss: Seq[Span], f: Span => Double) = Stats.median(ss.map(f))
      r.layers("ops.serve_jobs") = med(serves, s => tr.workOf(s).jobs.get.toDouble)
      r.layers("ops.serve_tasks") = med(serves, s => tr.workOf(s).tasks.get.toDouble)
      r.layers("ops.serve_driver_gap_s") = med(serves, tr.driverGapS)
      r.layers("ops.serve_rows_scored") = med(serves, _.attrs.getOrElse("rows_scored", 0.0))
      r.layers("ops.append_jobs") = med(tr.opSpans("append"), s => tr.workOf(s).jobs.get.toDouble)
      r.layers("ops.index_files") = indexFiles
      val near = tr.opSpans("neardup")
      r.layers("ops.neardup_jobs") = med(near, s => tr.workOf(s).jobs.get.toDouble)
      r.layers("ops.neardup_shuffle_bytes") =
        med(near, s => tr.workOf(s).shuffleWriteBytes.get.toDouble)
      r.layers("ops.neardup_pairs") = med(near, _.attrs.getOrElse("pairs", 0.0))
      kernels(spark, r, tr, embPath, docPath)
    }
    spark
  }

  /** Rows the scan of `pathPart` read in an executed query's final plan. */
  private def scanned(q: DataFrame, pathPart: String): Long =
    Trace.nodes(q.queryExecution.executedPlan).collect {
      case f: FileSourceScanExec if f.relation.location.rootPaths.exists(_.toString.contains(pathPart)) =>
        f.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    }.sum

  private def indexFileCount(dir: File): Int =
    if (!dir.exists()) 0
    else dir.listFiles().map { f =>
      if (f.isDirectory) indexFileCount(f) else if (f.getName.endsWith(".parquet")) 1 else 0
    }.sum

  /** `graft.functions` kernels at a size where the kernel dominates:
    * MinHash signatures over the document corpus, and brute-force cosine
    * top-k of 8 queries over a fixed 20k-vector sample. Best of two
    * passes. */
  private def kernels(spark: SparkSession, r: Result, tr: Tracer, embPath: String,
      docPath: String): Unit = {
    val sc = spark.sparkContext
    val docsDf = spark.read.parquet(docPath)
    val n = docsDf.count()
    val sigCols = (0 until 16).map(i => col(s"sig_$i"))
    val mh = (0 until 2).map { _ =>
      val s0 = System.nanoTime()
      tr.op(sc, "minhash", "functions") {
        Dedup.minhashSignatures(docsDf, "text").agg(max(xxhash64(sigCols: _*))).collect()
      }
      n / Stats.secs(s0)
    }
    r.layers("functions.minhash_rows_per_s") = mh.max
    val emb = spark.read.parquet(embPath)
    val sample = emb.filter(col("vec_id") % 5 === 0).limit(20000).localCheckpoint(true)
    val nSample = sample.count()
    val queries = emb.filter(col("vec_id") < 8)
      .select((col("vec_id") - 1000).as("vec_id"), col("embedding")).localCheckpoint(true)
    val tk = (0 until 2).map { _ =>
      val s0 = System.nanoTime()
      tr.op(sc, "topk", "functions") {
        Similarity.bruteForceTopK(sample, queries, K).collect()
      }
      nSample * 8 / Stats.secs(s0)
    }
    r.layers("functions.topk_rows_per_s") = tk.max
  }
}
