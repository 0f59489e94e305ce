package graft

import org.apache.spark.sql.SparkSession

/** The engine's session defaults, held in one place. Every entry point
  * builds its session here — `Verify`, `Bench`, every `tools` main and
  * the test harness — so they all run one configuration:
  *  - `local[cores]`, with `spark.sql.shuffle.partitions` = cores;
  *  - `spark.sql.session.timeZone=UTC` (`Tables.load` and the CDC
  *    timestamp columns assume it);
  *  - `spark.ui.enabled=false`;
  *  - `spark.sql.sources.parallelPartitionDiscovery.threshold=128`:
  *    listings below 128 paths run on the driver. Spark's default (32)
  *    turned every read of a cell-partitioned index (~80 dirs) into an
  *    80-task listing job of ~0 ms tasks, 150 ms of scheduler overhead
  *    per serve (llm82 `ProfileJobs`). Deployments with thousands of
  *    partition dirs on an object store still list distributed;
  *  - `spark.sql.extensions=graft.GraftExtensions`, so the SQL functions
  *    and the as-of strategy exist in every session of the context,
  *    `newSession()` included;
  *  - log level WARN.
  */
object GraftSession {

  /** `SPARK_GRAFT_CPUS`, else the host's core count. */
  def cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** The session over `local[cores]`. `conf` pairs are applied after
    * the defaults and override them. */
  def build(cores: Int = GraftSession.cores, conf: Seq[(String, String)] = Nil): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "128")
      .config("spark.sql.extensions", classOf[GraftExtensions].getName)
    conf.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
