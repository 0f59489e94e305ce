package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** A span: one timed call. `parent` is the op span that caused it (-1 for
  * an op); `layer` names the graft module whose public function ran. */
final case class Span(id: Int, parent: Int, name: String, layer: String,
    startNs: Long, endNs: Long, attrs: mutable.Map[String, Double]) {
  def wallS: Double = (endNs - startNs) / 1e9
}

/** Work Spark did for one op, tied to it through the `graftbench.op`
  * local property the harness sets before the op's calls. */
final class OpWork {
  val jobs = new AtomicLong
  val tasks = new AtomicLong
  val taskCpuNs = new AtomicLong
  val shuffleWriteBytes = new AtomicLong
  val spillBytes = new AtomicLong
  /** (start, end) wall nanos of each finished job, for the driver gap. */
  val jobSpans = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]
}

/** The benchmark's tracer. Spans live in memory and are written out when
  * the run ends; Spark job/stage/task work reaches the op that started it
  * through a local property; streaming progress comes from a query
  * listener. Nothing inside graft is instrumented: every span wraps a
  * call into a graft public function from the benchmark's side. With
  * tracing off, `op` and `call` only run their body. */
final class Tracer(val on: Boolean) {
  private val t0 = System.nanoTime()
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var current = -1
  // boxed keys and values: a Scala Int view of a missing entry reads 0
  private val work = new ConcurrentHashMap[Integer, OpWork]()
  private val stageOp = new ConcurrentHashMap[Integer, Integer]()
  private val jobStart = new ConcurrentHashMap[Integer, (Int, Long)]()
  val progress = new java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryProgress]
  /** Raw JSON records written beside the spans (stream progress). */
  var extra: Seq[String] = Nil
  private val Prop = "graftbench.op"

  def install(sc: SparkContext, spark: org.apache.spark.sql.SparkSession): Unit = if (on) {
    sc.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val op = Option(e.properties).flatMap(p => Option(p.getProperty(Prop)))
          .map(_.toInt).getOrElse(-1)
        if (op >= 0) {
          val w = work.computeIfAbsent(op, _ => new OpWork)
          w.jobs.incrementAndGet()
          e.stageIds.foreach(s => stageOp.put(s, op))
          jobStart.put(e.jobId, (op, System.nanoTime()))
        }
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val s = jobStart.remove(e.jobId)
        if (s != null) work.get(s._1).jobSpans.add((s._2, System.nanoTime()))
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val op = stageOp.get(e.stageId)
        if (op != null && e.taskMetrics != null) {
          val w = work.get(op)
          val m = e.taskMetrics
          w.tasks.incrementAndGet()
          w.taskCpuNs.addAndGet(m.executorCpuTime)
          w.shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          w.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        }
      }
    })
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        progress.add(e.progress)
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    })
  }

  /** Run one benchmark op; with tracing on, record its span and tie the
    * Spark jobs it starts to it. */
  def op[T](sc: SparkContext, name: String, layer: String)(body: => T): T =
    if (!on) body
    else {
      val id = spans.length
      val s = Span(id, -1, name, layer, System.nanoTime(), 0L, mutable.Map.empty)
      spans += s
      val prev = current
      current = id
      sc.setLocalProperty(Prop, id.toString)
      try body
      finally {
        sc.setLocalProperty(Prop, null)
        current = prev
        spans(id) = s.copy(endNs = System.nanoTime())
      }
    }

  /** A child span around one layer call inside the current op. */
  def call[T](name: String, layer: String)(body: => T): T =
    if (!on) body
    else {
      val s0 = System.nanoTime()
      val r = body
      spans += Span(spans.length, current, name, layer, s0, System.nanoTime(), mutable.Map.empty)
      r
    }

  /** Attach a measured attribute to the current op span. */
  def attr(k: String, v: Double): Unit = if (on && current >= 0) spans(current).attrs(k) = v

  /** Wait for the asynchronous listener bus, so every job of the ops run
    * so far is counted. */
  def drain(sc: SparkContext): Unit = if (on) {
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }

  def opSpans(name: String): Seq[Span] = spans.toSeq.filter(s => s.parent < 0 && s.name == name)
  def workOf(s: Span): OpWork = Option(work.get(s.id)).getOrElse(new OpWork)

  /** Op wall time not covered by any of its Spark jobs: driver-side
    * planning, listing, collects and scheduling gaps. */
  def driverGapS(s: Span): Double = {
    val iv = workOf(s).jobSpans.asScala.toSeq
      .map { case (a, b) => (math.max(a, s.startNs), math.min(b, s.endNs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curS = -1L
    var curE = -1L
    iv.foreach { case (a, b) =>
      if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (curE > curS) covered += curE - curS
    ((s.endNs - s.startNs) - covered) / 1e9
  }

  /** Self time: the span's wall minus the part its child spans cover. */
  private def selfS(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id)
    s.wallS - kids.map(_.wallS).sum
  }

  def write(f: java.io.File): Unit = if (on) {
    val sb = new StringBuilder("{\"spans\":[\n")
    spans.zipWithIndex.foreach { case (s, i) =>
      val w = if (s.parent < 0) Option(work.get(s.id)) else None
      sb ++= f"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","layer":"${s.layer}",""" +
        f""""start_s":${(s.startNs - t0) / 1e9}%.6f,"wall_s":${s.wallS}%.6f,"self_s":${selfS(s)}%.6f"""
      if (s.parent < 0) sb ++= f""","driver_gap_s":${driverGapS(s)}%.6f"""
      w.foreach { w =>
        sb ++= s""","jobs":${w.jobs.get},"tasks":${w.tasks.get},"task_cpu_s":${w.taskCpuNs.get / 1e9},""" +
          s""""shuffle_write_bytes":${w.shuffleWriteBytes.get},"spill_bytes":${w.spillBytes.get}"""
      }
      s.attrs.foreach { case (k, v) => sb ++= s""","$k":$v""" }
      sb ++= (if (i + 1 < spans.length) "},\n" else "}\n")
    }
    sb ++= "],\n\"progress\":[" ++= extra.map(_.replace('\n', ' ')).mkString(",\n") ++= "]}\n"
    java.nio.file.Files.writeString(f.toPath, sb.toString)
  }
}

object Trace {
  /** Every physical operator of an executed plan, through adaptive
    * wrappers and query stages, so SQL and DSv2 custom metrics of the
    * final plan can be read after the action ran. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }
  def metric(p: SparkPlan, name: String): Long =
    nodes(p).flatMap(_.metrics.get(name)).map(_.value).sum
}
