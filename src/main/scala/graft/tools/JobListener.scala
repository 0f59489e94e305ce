package graft.tools

import scala.collection.concurrent.TrieMap
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.graftbridge.Bridge

/** The Spark work the measurement tools count, per job: wall time,
  * stages, tasks, task run and CPU time, shuffle-write bytes, and one
  * detail line per stage. `ProfileJobs` prints it; `ScaleSmoke` pins
  * shuffle bytes with it.
  *
  * The listener bus is asynchronous, so [[reset]] and [[jobs]] first
  * drain it (`Bridge.waitForListeners`). A fixed sleep lets
  * stage-completed events land outside the window on a loaded host and
  * attributes them to the wrong measurement, in either direction.
  */
final class JobListener private (sc: SparkContext) extends SparkListener {
  import JobListener.Job

  private val byId = new TrieMap[Int, Job]
  private val stageToJob = new TrieMap[Int, Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val desc = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.job.description")))
      .getOrElse("")
    byId(e.jobId) = new Job(e.jobId, desc, e.time)
    e.stageIds.foreach(sid => stageToJob(sid) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    byId.get(e.jobId).foreach(_.t1 = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val m = si.taskMetrics
    stageToJob.get(si.stageId).flatMap(byId.get).foreach { j =>
      j.stages += 1; j.tasks += si.numTasks
      j.runMs += m.executorRunTime; j.cpuMs += m.executorCpuTime / 1000000
      j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      val wall = (for (a <- si.completionTime; b <- si.submissionTime)
        yield a - b).getOrElse(-1L)
      j.stageDetail += f"    stage ${si.stageId}%4d ${wall}%6d ms " +
        f"tasks=${si.numTasks}%4d run=${m.executorRunTime}%6d " +
        f"cpu=${m.executorCpuTime / 1000000}%6d deser=${m.executorDeserializeTime}%5d " +
        f"gc=${m.jvmGCTime}%5d shW=${m.shuffleWriteMetrics.writeTime / 1000000}%4d " +
        f"shRwait=${m.shuffleReadMetrics.fetchWaitTime}%4d  ${si.name.take(60)}"
    }
  }

  /** Forget every job recorded so far. */
  def reset(): Unit = {
    Bridge.waitForListeners(sc)
    byId.clear()
    stageToJob.clear()
  }

  /** The jobs since the last [[reset]], in start order. */
  def jobs: Seq[Job] = {
    Bridge.waitForListeners(sc)
    byId.values.toSeq.sortBy(_.id)
  }

  /** `body`'s result and the shuffle bytes its jobs wrote. */
  def measuredShuffle[T](body: => T): (T, Long) = {
    reset()
    val r = body
    (r, jobs.map(_.shuffleWriteBytes).sum)
  }
}

object JobListener {
  /** One job's totals; written on the listener thread, read after a drain. */
  final class Job(val id: Int, val desc: String, val t0: Long) {
    var t1, runMs, cpuMs, shuffleWriteBytes = 0L
    var stages, tasks = 0
    val stageDetail = ArrayBuffer.empty[String]
    def wallMs: Long = math.max(0L, t1 - t0)
  }

  /** A listener registered on `sc`. */
  def attach(sc: SparkContext): JobListener = {
    val l = new JobListener(sc)
    sc.addSparkListener(l)
    l
  }
}
