package graftbench

import java.io.File

import scala.collection.parallel.CollectionConverters._

import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.schema.{MessageType, MessageTypeParser}

/** Seeded input generation, run in its own JVM before the measured one so
  * its time (`gen_s`) and memory stay out of the run's metrics. Inputs are
  * a pure function of (workload, seed); `run.py` caches them by workload,
  * seed and a hash of the generator sources.
  *
  *   Gen <workload> <seed> <outDir>
  */
object Gen {
  /** cdc_history: 24 files of ~8 MiB (14k transactions each, ~200 MiB). */
  val HistoryLayout = LogGen.Layout(nFiles = 24, txnsPerFile = 14000)
  /** cdc_tail: the same generator and rotation size; the run holds back
    * all but a backlog prefix and appends the rest live. */
  val TailLayout = LogGen.Layout(nFiles = 3, txnsPerFile = 14000)

  val Vectors = 50000
  val Dim = 64
  val Clusters = 64
  val Docs = 25000
  val Vocab = 20000

  def main(args: Array[String]): Unit = {
    val code = try { generate(args); 0 } catch { case e: Throwable => e.printStackTrace(); 1 }
    System.exit(code)
  }

  private def generate(args: Array[String]): Unit = {
    val Array(workload, seedS, outS) = args
    val seed = seedS.toLong
    val out = new File(outS)
    out.mkdirs()
    workload match {
      case "cdc_history" =>
        LogGen.write(new File(out, "log"), seed, HistoryLayout).save(new File(out, "truth.bin"))
      case "cdc_tail" =>
        LogGen.write(new File(out, "log"), seed, TailLayout).save(new File(out, "truth.bin"))
      case "corpus_ops" => corpus(seed, out)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
  }

  /** Deterministic unit-scale gaussian stream for (seed, stream id). */
  private def rng(seed: Long, stream: Long) =
    new java.util.SplittableRandom(LogGen.mix(seed, stream))
  private def gauss(r: java.util.SplittableRandom): Double = {
    // Box-Muller: SplittableRandom has no nextGaussian
    val u = math.max(r.nextDouble(), 1e-300)
    math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * r.nextDouble())
  }

  def centers(seed: Long): Array[Array[Double]] =
    Array.tabulate(Clusters) { c =>
      val r = rng(seed, 1000000L + c)
      Array.fill(Dim)(gauss(r))
    }

  /** Vector `id`: a seeded cluster center plus noise. */
  def vector(seed: Long, cs: Array[Array[Double]], id: Long): Array[Float] = {
    val r = rng(seed, id)
    val c = cs(r.nextInt(Clusters))
    Array.tabulate(Dim)(j => (c(j) + 0.6 * gauss(r)).toFloat)
  }

  /** Document `id`: 20-40 tokens from a skewed vocabulary. */
  def document(seed: Long, id: Long): String = {
    val r = rng(seed ^ 0x5bd1e995L, id)
    val n = 20 + r.nextInt(21)
    (0 until n).map { _ =>
      val u = r.nextDouble()
      "w" + (u * u * Vocab).toInt
    }.mkString(" ")
  }

  /** Corpus document `id`: 2% are near copies of an earlier document
    * (one token swapped), so the index holds real duplicate buckets. */
  def corpusDocument(seed: Long, id: Long): String = {
    val r = rng(seed ^ 0x2545f491L, id)
    if (id > 100 && r.nextInt(50) == 0) {
      val src = document(seed, r.nextLong(id)).split(' ')
      src(r.nextInt(src.length)) = "x" + r.nextInt(Vocab)
      src.mkString(" ")
    } else document(seed, id)
  }

  /** Embeddings and documents as parquet, written with parquet-mr's
    * example writer (no Spark session, so generation stays cheap): four
    * files each, as `vec_id BIGINT, embedding ARRAY<FLOAT>` and
    * `doc_id BIGINT, text STRING`. */
  private def corpus(seed: Long, out: File): Unit = {
    val parts = 4
    val cs = centers(seed)
    val vecType = MessageTypeParser.parseMessageType(
      """message spark_schema {
        |  required int64 vec_id;
        |  optional group embedding (LIST) { repeated group list { required float element; } }
        |}""".stripMargin)
    val docType = MessageTypeParser.parseMessageType(
      """message spark_schema {
        |  required int64 doc_id;
        |  optional binary text (STRING);
        |}""".stripMargin)
    def write(dir: String, tpe: MessageType, n: Int)(fill: (Group, Long) => Unit): Unit = {
      val d = new File(out, dir)
      d.mkdirs()
      val factory = new SimpleGroupFactory(tpe)
      (0 until parts).par.foreach { p =>
        val w = ExampleParquetWriter.builder(
            new org.apache.hadoop.fs.Path(new File(d, f"part-$p%05d.parquet").getPath))
          .withType(tpe).withCompressionCodec(CompressionCodecName.SNAPPY)
          .withConf(new org.apache.hadoop.conf.Configuration()).build()
        try {
          var id = p.toLong * n / parts
          while (id < (p + 1).toLong * n / parts) {
            val g = factory.newGroup()
            fill(g, id)
            w.write(g)
            id += 1
          }
        } finally w.close()
      }
      new File(d, "_SUCCESS").createNewFile()
    }
    write("embeddings", vecType, Vectors) { (g, id) =>
      g.add("vec_id", id)
      val list = g.addGroup("embedding")
      vector(seed, cs, id).foreach(x => list.addGroup("list").add("element", x))
    }
    write("documents", docType, Docs) { (g, id) =>
      g.add("doc_id", id)
      g.add("text", corpusDocument(seed, id))
    }
  }
}
