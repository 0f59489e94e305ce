package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{Dataset => CDataset, ExpressionUtils, SparkSession => CSparkSession}
import org.apache.spark.sql.execution.SparkStrategy

/** Minimal accessor for the `private[sql]` pieces a library-level
  * extension needs. Custom Catalyst expressions (graft.functions) need a
  * `Column` wrapper to compose with the public DataFrame API, and a
  * custom whole-operator plan (graft.plans.AsOfJoin) needs
  * plan <-> DataFrame conversion plus strategy registration; Spark 4
  * exposes no public constructors for these, so this one-file subpackage
  * of `org.apache.spark.sql` is the conventional extension-point shim.
  * No other Spark internals are touched this way.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Analyzed (resolved-attribute) logical plan of a DataFrame. */
  def analyzedPlan(df: DataFrame): LogicalPlan =
    df.asInstanceOf[CDataset[Row]].queryExecution.analyzed

  /** Wrap a logical plan back into a DataFrame. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    CDataset.ofRows(spark.asInstanceOf[CSparkSession], plan)

  /** The LAST micro-batch's executed physical plan of a streaming
    * query, rendered — the streaming face of `df.queryExecution
    * .executedPlan` (PlanLint audits it for scale anti-patterns; the
    * public API exposes `explain()` only as a side-effecting print).
    * None before the first batch or for non-classic query handles. */
  def lastStreamingPlan(
      q: org.apache.spark.sql.streaming.StreamingQuery): Option[String] =
    q match {
      case w: org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper =>
        Option(w.streamingQuery.lastExecution).map(_.executedPlan.toString)
      case _ => None
    }

  /** `schema` with every field, array element and map value nullable —
    * the schema a file-source read reports. `private[spark]` in Spark,
    * hence bridged. */
  def asNullable(schema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = schema.asNullable

  /** `q` (a classic session's query) with `f` run once its `stop()`
    * returns. The handle stays a `StreamingQueryWrapper`, so
    * [[lastStreamingPlan]] still reads it. */
  def onStop(q: org.apache.spark.sql.streaming.StreamingQuery)(f: => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
    new StreamingQueryWrapper(q.asInstanceOf[StreamingQueryWrapper].streamingQuery) {
      override def stop(): Unit = try super.stop() finally f
    }
  }

  /** DataFrame over an RDD of Catalyst-INTERNAL rows (UTF8String /
    * micros-long / Decimal values) — the constructor a custom decoder
    * needs: CDC row decode already produces internal representations
    * (the DSv2 scan consumes them as InternalRow), so the multi-table
    * fan-out reuses them without a per-value external conversion.
    * `private[sql]` in Spark, hence bridged. */
  def internalCreateDataFrame(spark: SparkSession,
      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.asInstanceOf[CSparkSession].internalCreateDataFrame(rdd, schema)

  /** Unload every loaded state-store provider. A JVM that runs many
    * streaming queries back-to-back (the full-surface bench: 24
    * streaming queries × reps in one session) accumulates providers of
    * long-FINISHED queries; the shared maintenance pool keeps iterating
    * them and their memory stays pinned, which inflates later streaming
    * samples. `StateStore.unloadAll()` is the hygiene hook Spark's own
    * test harness uses between suites; `private[sql]`, hence bridged.
    * Providers re-load lazily, so the next streaming query is
    * unaffected beyond a cold first batch (the bench's untimed warmup
    * absorbs it). */
  def unloadStateStores(): Unit =
    org.apache.spark.sql.execution.streaming.state.StateStore.unloadAll()

  /** Every file-source scan in `df`'s PLANNED physical tree as
    * (root paths, selected partition count, selected file count) — the
    * partition-pruning assertion hook: a cell-pruned index probe must
    * select only its touched cell directories, and `selectedPartitions`
    * is resolved at planning time, so the probe needs no execution.
    * Descends through AQE wrappers (current plan) and reused subtrees. */
  def fileScanSelections(df: DataFrame): Seq[(String, Int, Long)] = {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    def flatten(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => p +: flatten(a.executedPlan)
      case _ => p +: p.children.flatMap(flatten)
    }
    flatten(df.asInstanceOf[CDataset[Row]].queryExecution.executedPlan)
      .collect { case f: FileSourceScanExec =>
        (f.relation.location.rootPaths.mkString(","),
          f.selectedPartitions.partitionCount,
          f.selectedPartitions.totalNumberOfFiles)
      }
  }

  /** Block until every event posted so far has reached every listener
    * (`LiveListenerBus.waitUntilEmpty`, `private[spark]`) — the drain a
    * listener-based measurement needs before it reads its counters. */
  def waitForListeners(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** Idempotently register an extra planner strategy on a live session
    * (the public `experimental` hook; `SparkSessionExtensions` covers the
    * build-time path — see graft.GraftExtensions). */
  def addStrategy(spark: SparkSession, s: SparkStrategy): Unit = {
    val exp = spark.asInstanceOf[CSparkSession].experimental
    if (!exp.extraStrategies.exists(_ eq s))
      exp.extraStrategies = exp.extraStrategies :+ s
  }
}
