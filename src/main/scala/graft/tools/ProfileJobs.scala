package graft.tools

/** Job/stage-level profiler for the optimization rounds:
  * `runMain graft.tools.ProfileJobs <queryName[,name2,...]> [sfDir] [reps] [warmups]`
  *
  * Runs each query `warmups` untimed times (default 1), then `reps`
  * timed executions (default 2), with a [[JobListener]] recording every
  * job and stage: wall time, task count, and total task time. Prints
  * each rep's wall, their min and median, and the per-job breakdown of
  * the LAST timed rep — the "where do the seconds go" view the bench's
  * single total hides (guide §1.1: decide whether time goes to
  * scheduling, shuffle, or compute before changing anything). The gap
  * between sum(job wall) and the rep wall is driver-side work
  * (planning, collects, checkpoint bookkeeping).
  *
  * The IVF/PQ family needs ~5 warmups to reach steady state: C2
  * compilation of the kmeans/encode/score paths ramps over the first
  * ~5 executions (a monotone per-rep decrease, measured round 9 — not
  * host noise or tiny-task scheduling).
  *
  * `SPARK_GRAFT_PROFILE_CONF="k=v;k=v"` adds session confs for ad-hoc
  * experiments; `SPARK_GRAFT_PROFILE_STAGES=1` adds one line per stage.
  */
object ProfileJobs {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(',').map(_.trim).filter(_.nonEmpty)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 2
    val warmups = if (args.length > 3) args(3).toInt else 1
    val conf = sys.env.get("SPARK_GRAFT_PROFILE_CONF").toSeq
      .flatMap(_.split(';')).filter(_.contains('=')).map { kv =>
        val Array(k, v) = kv.split("=", 2); k -> v
      }
    val spark = graft.GraftSession.build(conf = conf)
    val listener = JobListener.attach(spark.sparkContext)

    def release(): Unit =
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    names.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      (1 to warmups).foreach { _ => fn(spark, sfDir).count(); release() }
      val walls = (1 to reps).map { r =>
        listener.reset()
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        val wall = (System.nanoTime() - t0) / 1e9
        release()
        println(f"$name rep $r wall ${wall}%.3f s")
        wall
      }
      val lastWall = walls.last
      println(f"$name walls: min=${walls.min}%.3f median=${walls.sorted.apply((reps - 1) / 2)}%.3f s")
      println(f"--- $name last rep jobs (wall ${lastWall}%.3f s) ---")
      val jobs = listener.jobs
      jobs.foreach { j =>
        println(f"job ${j.id}%4d ${j.wallMs}%6d ms  stages=${j.stages}%2d tasks=${j.tasks}%4d taskTime=${j.runMs}%6d ms  ${j.desc.take(80)}")
        if (sys.env.get("SPARK_GRAFT_PROFILE_STAGES").contains("1"))
          j.stageDetail.foreach(println)
      }
      val jobWall = jobs.map(_.wallMs).sum / 1000.0
      println(f"$name sum(job wall) = ${jobWall}%.3f s; driver gap = ${lastWall - jobWall}%.3f s")
    }
    spark.stop()
  }
}
