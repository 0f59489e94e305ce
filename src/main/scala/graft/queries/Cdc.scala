package graft.queries

import graft.{QDef, Tables}
import graft.cdc.{CdcFixture, CdcSchema}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Tier-A surface (SURVEY.md §2.A): queries over the `binlogcdc`
  * DataSourceV2 source, reading the deterministic CDC log that
  * CdcFixture derives from orders.parquet. Because the event stream is a
  * pure function of `orders`, every query here has a full DuckDB oracle —
  * the custom source is hash-checked, not just smoke-checked.
  *
  * The oracle reconstructs the event stream in SQL; see CdcFixture for the
  * storyline (insert batches of 10, +10% price update on o_orderkey%10=0,
  * delete on %100=0, __tm = 2024-01-01 + gno seconds).
  */
object Cdc {

  /** Shared oracle CTE: the event stream reconstructed from orders. */
  private[queries] val eventsCte: String =
    """WITH ord AS (
      |  SELECT *, ROW_NUMBER() OVER (ORDER BY o_orderkey) - 1 AS idx FROM orders
      |), cdc AS (
      |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority,
      |         1 AS __op, CAST(idx // 10 AS BIGINT) AS __gtid FROM ord
      |  UNION ALL
      |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority,
      |         2 AS __op, 1000000 + idx AS __gtid FROM ord WHERE o_orderkey % 10 = 0
      |  UNION ALL
      |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice * 1.1, o_orderdate, o_orderpriority,
      |         3 AS __op, 1000000 + idx AS __gtid FROM ord WHERE o_orderkey % 10 = 0
      |  UNION ALL
      |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice * 1.1, o_orderdate, o_orderpriority,
      |         0 AS __op, 2000000 + idx AS __gtid FROM ord WHERE o_orderkey % 100 = 0
      |), cdc_tm AS (
      |  SELECT *, TIMESTAMP '2024-01-01 00:00:00' + to_seconds(__gtid) AS __tm,
      |    '""".stripMargin + CdcFixture.SourceId + """' AS __source_id FROM cdc
      |)""".stripMargin

  def scan(s: SparkSession, dir: String): DataFrame = {
    val index = CdcFixture.ensure(s, dir)
    s.read.format("binlogcdc")
      .option("indexFile", index)
      .option("database", CdcFixture.Db)
      .option("table", CdcFixture.Table)
      .load()
  }

  val defs: Seq[QDef] = Seq(

    QDef("cdc01_scan",
      s"$eventsCte SELECT * FROM cdc_tm") { (s, dir) => scan(s, dir) },

    QDef("cdc02_op_counts",
      s"""$eventsCte
         |SELECT __op, COUNT(*) AS n, MIN(__gtid) AS min_gtid, MAX(__gtid) AS max_gtid
         |FROM cdc_tm GROUP BY __op""".stripMargin) { (s, dir) =>
      scan(s, dir).groupBy(col("__op"))
        .agg(count(lit(1)).as("n"), min(col("__gtid")).as("min_gtid"),
          max(col("__gtid")).as("max_gtid"))
    },

    // latest-image compaction — the CDC->table materialization idiom
    // (SURVEY.md §2.D): last image per key by (gtid, op), drop deletes.
    QDef("cdc03_latest_image",
      """SELECT o_orderkey, o_custkey, o_orderstatus,
        |  CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice * 1.1 ELSE o_totalprice END AS o_totalprice,
        |  o_orderdate, o_orderpriority
        |FROM orders WHERE o_orderkey % 100 <> 0""".stripMargin) { (s, dir) =>
      latestImage(scan(s, dir), Seq("o_orderkey"))
    },

    // pushdown path: __op/__gtid predicates evaluated inside the source
    QDef("cdc04_op_filter",
      s"""$eventsCte
         |SELECT o_orderkey, __gtid FROM cdc_tm
         |WHERE __op = 1 AND __gtid < 500""".stripMargin) { (s, dir) =>
      scan(s, dir).filter(col("__op") === 1 && col("__gtid") < 500)
        .select(col("o_orderkey"), col("__gtid"))
    },

    QDef("cdc05_tm_buckets",
      s"""$eventsCte
         |SELECT CAST(DATE_TRUNC('hour', __tm) AS TIMESTAMP) AS hour_bucket, __op, COUNT(*) AS n
         |FROM cdc_tm GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      scan(s, dir)
        .groupBy(date_trunc("hour", col("__tm")).as("hour_bucket"), col("__op"))
        .agg(count(lit(1)).as("n"))
    },

    // before/after self-join over the update pairs (shared __gtid)
    QDef("cdc06_update_deltas",
      """SELECT o_orderkey,
        |  o_totalprice AS before_price,
        |  o_totalprice * 1.1 AS after_price,
        |  o_totalprice * 1.1 - o_totalprice AS delta
        |FROM orders WHERE o_orderkey % 10 = 0""".stripMargin) { (s, dir) =>
      // single-pass pairing (same shape as cdc23): ONE scan,
      // conditional aggregation per (gtid, key) — the former
      // before/after self-join referenced the scan twice, decoding
      // every log byte twice
      scan(s, dir)
        .filter(col("__op").isin(
          CdcSchema.Op.UpdateBefore, CdcSchema.Op.UpdateAfter))
        .groupBy(col("__gtid"), col("o_orderkey"))
        .agg(
          max(when(col("__op") === CdcSchema.Op.UpdateBefore,
            col("o_totalprice"))).as("before_price"),
          max(when(col("__op") === CdcSchema.Op.UpdateAfter,
            col("o_totalprice"))).as("after_price"))
        .select(col("o_orderkey"), col("before_price"), col("after_price"),
          (col("after_price") - col("before_price")).as("delta"))
    },

    // flagship: current state of orders joined to customers, aggregated
    QDef("cdc07_current_join_agg",
      """WITH current_orders AS (
        |  SELECT o_orderkey, o_custkey,
        |    CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice * 1.1 ELSE o_totalprice END AS price
        |  FROM orders WHERE o_orderkey % 100 <> 0
        |)
        |SELECT c_mktsegment, COUNT(*) AS n_orders,
        |  CAST(ROUND(SUM(CAST(price AS DECIMAL(18,6))), 4) AS DOUBLE) AS segment_value
        |FROM current_orders JOIN customer ON c_custkey = o_custkey
        |GROUP BY c_mktsegment""".stripMargin) { (s, dir) =>
      val current = latestImage(scan(s, dir), Seq("o_orderkey"))
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice").as("price"))
      current
        .join(Tables.load(s, dir, "customer"), col("c_custkey") === col("o_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("price").cast("decimal(18,6)")), 4)
            .cast("double").as("segment_value"))
    },

    // end-to-end Structured Streaming: same source via readStream,
    // drained into a memory sink — result must equal the batch scan.
    QDef("cdc08_stream_scan",
      s"$eventsCte SELECT * FROM cdc_tm") { (s, dir) =>
      val index = CdcFixture.ensure(s, dir)
      val name = "cdc_stream_" + java.lang.Integer.toHexString(dir.hashCode)
      val stream = s.readStream.format("binlogcdc")
        .option("indexFile", index)
        .option("database", CdcFixture.Db)
        .option("table", CdcFixture.Table)
        .load()
      val ckpt = graft.TmpDirs.ramCheckpointDir("cdc08")
      graft.streaming.EphemeralCkpt.withoutChecksums(s) {
        val q = stream.writeStream.format("memory").queryName(name)
          .option("checkpointLocation", ckpt)
          .outputMode("append").start()
        try {
          q.processAllAvailable()
          graft.tools.StreamPlanAudit.record("cdc08", q)
        } finally {
          q.stop()
          graft.TmpDirs.deleteRecursively(new java.io.File(ckpt))
        }
      }
      s.table(name)
    }
  )

  /** Every envelope column by name — so compaction stays correct when
    * the envelope grows (it did: __source_id). */
  private val envelopeNames: Set[String] = CdcSchema.envelope.map(_.name).toSet

  /** CDC→table compaction: the latest image per primary key in log
    * order, dropping before-images and keys whose latest image is a
    * delete. One window: each key's rows ranked by the scan's hidden
    * `__pos` (file ordinal, byte offset), rank 1 kept unless a delete.
    * Log order decides inside a transaction too (an update then a
    * delete of one key in one GTID leaves it deleted). Spark plans one
    * shuffle with a sort on each side of it (a partial
    * `WindowGroupLimit` keeps one row per key per task before it) and
    * no `SortAggregate`; only the columns the consumer reads reach the
    * scan, and the `__op` filter drops before-images before they are
    * decoded. DESIGN.md "Compaction order" has the measured
    * alternatives.
    *
    * `cdc` must be a `binlogcdc` read, filtered or not: anything else
    * has no `__pos` and fails loud. */
  def latestImage(cdc: DataFrame, pk: Seq[String]): DataFrame = {
    val pos =
      try cdc.metadataColumn(CdcSchema.PosCol)
      catch { case e: org.apache.spark.sql.AnalysisException =>
        throw new IllegalArgumentException("latestImage needs a binlogcdc " +
          s"read: its input has no ${CdcSchema.PosCol} log position", e)
      }
    val last = Window.partitionBy(pk.map(col): _*).orderBy(pos.desc)
    cdc.filter(col(CdcSchema.OpCol) =!= CdcSchema.Op.UpdateBefore)
      .withColumn("__rn", row_number().over(last))
      .filter(col("__rn") === 1 && col(CdcSchema.OpCol) =!= CdcSchema.Op.Delete)
      .select(cdc.columns.filterNot(envelopeNames).toIndexedSeq.map(col): _*)
  }

  /** Typed view of the orders CDC stream (SURVEY §1.1: Dataset[CdcRecord]
    * with a case-class envelope where type safety helps). */
  final case class OrderChange(o_orderkey: Long, o_custkey: Long,
      o_totalprice: Double, __op: Int, __gtid: Long)

  def typedScan(s: SparkSession, dir: String): org.apache.spark.sql.Dataset[OrderChange] = {
    import s.implicits._
    scan(s, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        col(CdcSchema.OpCol), col(CdcSchema.GtidCol))
      .as[OrderChange]
  }
}
