package graftbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
    inputs: File, work: File)

/** What one run measured. `e2e` and `layers` are keyed by the metric names
  * of BENCHMARK.json; `info` carries run facts that are not gated. */
final class Result {
  val e2e = mutable.LinkedHashMap.empty[String, Double]
  val layers = mutable.LinkedHashMap.empty[String, Double]
  val info = mutable.LinkedHashMap.empty[String, Any]
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]

  /** Count one op; a wrong answer is a failed op, not a timing. */
  def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) { failed += 1; if (failures.length < 20) failures += what }
  }
}

object Stats {
  /** Nearest-rank percentile (q in 0..1) of a non-empty sample. */
  def pct(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    s(math.min(s.length - 1, math.max(0, math.ceil(q * s.length).toInt - 1)))
  }
  def median(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else {
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9
}

object Main {
  /** Set-ups per run; `setup_s` is their median. */
  val SetupRepeats = 3

  def session(a: Args): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graftbench-${a.workload}")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new File(a.work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(a.work, "warehouse").getPath)
      .config("spark.hadoop.hadoop.tmp.dir", new File(a.work, "hadoop-tmp").getPath)
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      // the same listing threshold graft's own Bench runs with: cell-
      // partitioned index reads list on the driver
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "128")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Set up `SetupRepeats` times: the first from process start (JVM and
    * session start included), the later ones redoing the workload's
    * set-up in the same session. Returns the session and the last set-up
    * value, and records the median set-up time. */
  def setUp[T](a: Args, r: Result, tracer: Tracer)(one: SparkSession => T): (SparkSession, T) = {
    val jvmStartNs = System.nanoTime() -
      ManagementFactory.getRuntimeMXBean.getUptime * 1000000L
    val times = mutable.ArrayBuffer.empty[Double]
    val spark = session(a)
    var last: T = null.asInstanceOf[T]
    (0 until SetupRepeats).foreach { i =>
      val t0 = if (i == 0) jvmStartNs else System.nanoTime()
      last = one(spark)
      times += Stats.secs(t0)
    }
    tracer.install(spark.sparkContext, spark)
    r.e2e("setup_s") = Stats.median(times.toSeq)
    r.info("setup_each_s") = times.map(t => f"$t%.3f").mkString(",")
    (spark, last)
  }

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1000.0

  def rssPeakMb(): Double = {
    val f = new File("/proc/self/status")
    if (!f.exists()) Runtime.getRuntime.totalMemory() / 1048576.0
    else scala.io.Source.fromFile(f).getLines().find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)
  }

  private def parse(args: Array[String]): Args = {
    val m = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toInt, m("trace") == "1",
      new File(m("inputs")), new File(m("work")))
  }

  private def json(v: Any): String = v match {
    case d: Double if d.isNaN || d.isInfinite => "null"
    case d: Double => java.math.BigDecimal.valueOf(d).toPlainString
    case n: Long => n.toString
    case n: Int => n.toString
    case b: Boolean => b.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case s: Seq[_] => s.map(json).mkString("[", ",", "]")
    case s => "\"" + s.toString.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => " "; case c => c.toString
    } + "\""
  }

  def main(argv: Array[String]): Unit = {
    // Spark leaves non-daemon threads behind: exit explicitly either way
    val code = try { runOnce(parse(argv)); 0 } catch {
      case e: Throwable => e.printStackTrace(); 1
    }
    System.exit(code)
  }

  private def runOnce(a: Args): Unit = {
    a.work.mkdirs()
    val tracer = new Tracer(a.trace)
    val r = new Result
    val spark = a.workload match {
      case "cdc_history" => History.run(a, r, tracer)
      case "cdc_tail" => Tail.run(a, r, tracer)
      case "corpus_ops" => Corpus.run(a, r, tracer)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    r.e2e("rss_peak_mb") = rssPeakMb()
    tracer.write(new File(a.work, "trace.json"))
    spark.stop()
    val out = mutable.LinkedHashMap[String, Any](
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds,
      "trace" -> a.trace, "attempted" -> r.attempted, "failed" -> r.failed,
      "failures" -> r.failures.toSeq, "e2e" -> r.e2e, "layers" -> r.layers,
      "info" -> r.info.map { case (k, v) => k -> v.toString })
    java.nio.file.Files.writeString(new File(a.work, "result.json").toPath, json(out) + "\n")
  }
}
