package graft.queries

import graft.{QDef, Tables}
import graft.ops.Skew
import graft.streaming.StreamOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-technique demonstrations, each oracle-checked so the technique
  * provably preserves semantics: bucketed co-located joins (no exchange
  * at join time), salted skew joins (identical results to plain join),
  * sliding event-time windows.
  */
object ScaleTechniques {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  /** Z-order dimensions for q76/q77: lineitem's part/supplier keys with
    * sf0.1-wide fixed bounds (values beyond clamp into edge buckets —
    * the oracle applies the same clamp). */
  private val ZDims = Seq(graft.ops.Layout.Dim("l_partkey", 0L, 19999L),
    graft.ops.Layout.Dim("l_suppkey", 0L, 999L))
  private val ZBits = 8

  /** Idempotently create bucketed saved tables for sfDir (bucketBy is
    * only available via saveAsTable). Bucket count would be sized to
    * target-file-size at scale; 8 here. */
  // JVM-unique suffix: managed-table locations under spark-warehouse
  // persist across JVMs while the in-memory catalog doesn't — unique
  // names avoid LOCATION_ALREADY_EXISTS on re-runs
  private[graft] lazy val jvmTag: String =
    java.lang.Long.toHexString(System.nanoTime()).takeRight(8)

  private def deleteRecursively(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete(): Unit
  }

  private def ensureBucketed(s: SparkSession, dir: String): (String, String) = {
    val tag = java.lang.Integer.toHexString(dir.hashCode) + "_" + jvmTag
    val (ot, lt) = (s"orders_b_$tag", s"lineitem_b_$tag")
    if (!s.catalog.tableExists(ot)) {
      // clear leftovers from prior JVMs (managed locations accumulate)
      val wh = new java.io.File(s.conf.get("spark.sql.warehouse.dir")
        .stripPrefix("file:"))
      Option(wh.listFiles()).foreach(_.filter(f =>
        f.getName.startsWith("orders_b_") || f.getName.startsWith("lineitem_b_"))
        .filterNot(f => f.getName.endsWith(jvmTag))
        .foreach(deleteRecursively))
      t(s, dir, "orders").write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .mode("overwrite").saveAsTable(ot)
      t(s, dir, "lineitem").write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .mode("overwrite").saveAsTable(lt)
    }
    (ot, lt)
  }

  val defs: Seq[QDef] = Seq(

    // bucketed co-located join: both sides pre-bucketed on the join key,
    // so the join plan has NO shuffle exchange (verified in spec) —
    // the 100 TB pattern for repeated fact-fact joins
    QDef("q55_bucketed_join",
      """SELECT o_orderstatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS qty
        |FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        |GROUP BY o_orderstatus""".stripMargin) { (s, dir) =>
      val (ot, lt) = ensureBucketed(s, dir)
      s.table(ot).join(s.table(lt), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(18,6)")).cast("double").as("qty"))
    },

    // salted skew join: results must be identical to the plain join
    QDef("q56_salted_join",
      """SELECT c_mktsegment, COUNT(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment""".stripMargin) { (s, dir) =>
      val orders = t(s, dir, "orders").withColumnRenamed("o_custkey", "custkey")
      val customer = t(s, dir, "customer").withColumnRenamed("c_custkey", "custkey")
      Skew.saltedJoin(orders, customer, "custkey", salts = 8)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"))
    },

    // custom whole-operator plan (graft.plans.AsOfJoin): for each
    // purchase, the latest click at-or-before it per user — one merge
    // pass over co-partitioned sorted children, no pair materialization.
    // Oracle is DuckDB's native ASOF LEFT JOIN. (click ts emitted, not
    // click id: ties on (user, ts) would make the picked row ambiguous;
    // the fixture has none, but the ts is deterministic regardless)
    QDef("q57_asof_join",
      """SELECT p.event_id, p.user_id, c.ts AS click_ts
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON p.user_id = c.user_id AND p.ts >= c.ts""".stripMargin) { (s, dir) =>
      val events = t(s, dir, "events")
      val purchases = events.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val clicks = events.filter(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("ts").as("click_ts"))
      graft.plans.AsOfJoin.asof(purchases, clicks,
        Seq("user_id" -> "c_user"), "ts", "click_ts")
        .select(col("event_id"), col("user_id"), col("click_ts"))
    },

    // binned range join (ops.RangeJoin): the BETWEEN join runs as a bin
    // equi-join + exact filter instead of broadcast-nested-loop — the
    // O(n·m) -> O(candidates) rewrite that survives a 100× scale-up.
    // Oracle is the naive BETWEEN join (provably identical results)
    QDef("q58_range_join_binned",
      """SELECT l.l_orderkey, l.l_linenumber, p.p_partkey, l.l_extendedprice
        |FROM (SELECT * FROM lineitem WHERE l_orderkey % 100 = 0) l
        |JOIN (SELECT * FROM part WHERE p_partkey % 20 = 0) p
        |  ON l.l_extendedprice BETWEEN p.p_retailprice - 50 AND p.p_retailprice + 50""".stripMargin) { (s, dir) =>
      val points = t(s, dir, "lineitem").filter(col("l_orderkey") % 100 === 0)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
      val intervals = t(s, dir, "part").filter(col("p_partkey") % 20 === 0)
        .select(col("p_partkey"),
          (col("p_retailprice") - 50).as("lo"), (col("p_retailprice") + 50).as("hi"))
      graft.ops.RangeJoin.pointInInterval(points, intervals,
        "l_extendedprice", "lo", "hi", binWidth = 50.0)
        .select(col("l_orderkey"), col("l_linenumber"), col("p_partkey"), col("l_extendedprice"))
    },

    // Z-order (Morton) layout key: the multi-dimensional clustering a
    // 100 TB table needs for file-stat pruning on EVERY interleaved
    // dimension, not just the leading sort column. Exact integer
    // formula (fixed-range buckets, bit interleave) — DuckDB recomputes
    // the identical key from the identical rendered SQL
    QDef("q76_zorder_key",
      s"""SELECT l_orderkey, l_linenumber,
         |  ${graft.ops.Layout.zValueSql(ZDims, ZBits, duck = true)} AS z
         |FROM lineitem""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem").select(col("l_orderkey"), col("l_linenumber"),
        graft.ops.Layout.zValue(ZDims, ZBits).as("z"))
    },

    // the layout operator end-to-end: cluster on the z-curve (one range
    // exchange), then per z-prefix cluster report the span of BOTH
    // dimensions — the min/max file stats a scan would prune on. The
    // oracle reproduces the buckets arithmetically; the tight per-
    // cluster spans (vs a single-column sort, where dim 2's span is the
    // whole domain) are the pruning argument, made hash-checkable
    QDef("q77_zorder_stats",
      s"""WITH z AS (
         |  SELECT l_partkey, l_suppkey,
         |    ${graft.ops.Layout.zValueSql(ZDims, ZBits, duck = true)} AS zk
         |  FROM lineitem
         |)
         |SELECT zk >> 4 AS cluster, COUNT(*) AS n,
         |  MIN(l_partkey) AS pk_lo, MAX(l_partkey) AS pk_hi,
         |  MIN(l_suppkey) AS sk_lo, MAX(l_suppkey) AS sk_hi
         |FROM z GROUP BY 1""".stripMargin) { (s, dir) =>
      graft.ops.Layout.zOrderBy(t(s, dir, "lineitem"), ZDims, ZBits,
          numFiles = 8)
        .groupBy(shiftright(col("__z"), 4).as("cluster"))
        .agg(count(lit(1)).as("n"),
          min(col("l_partkey")).as("pk_lo"), max(col("l_partkey")).as("pk_hi"),
          min(col("l_suppkey")).as("sk_lo"), max(col("l_suppkey")).as("sk_hi"))
    },

    // Hilbert-curve layout key — Z-order's no-diagonal-jump sibling,
    // compiled as a codegen'd Catalyst expression (the quadrant-
    // rotation walk is iterative, not shift/or algebra). The oracle is
    // an INDEPENDENT implementation: DuckDB walks the same public xy2d
    // algorithm as a recursive CTE, and the hashes must agree
    QDef("q78_hilbert_key",
      graft.ops.Layout.hilbertSqlDuck(ZDims(0), ZDims(1), ZBits,
        Seq("l_orderkey", "l_linenumber"), "lineitem")) { (s, dir) =>
      t(s, dir, "lineitem").select(col("l_orderkey"), col("l_linenumber"),
        graft.ops.Layout.hilbertValue(ZDims(0), ZDims(1), ZBits).as("h"))
    },

    // sliding windows (2h width, 1h slide): every event lands in exactly
    // two windows; oracle reconstructs via a two-way union of hour buckets
    QDef("str04_sliding_window",
      """SELECT window_start, event_type, COUNT(*) AS n FROM (
        |  SELECT CAST(DATE_TRUNC('hour', ts) AS TIMESTAMP) AS window_start, event_type FROM events
        |  UNION ALL
        |  SELECT CAST(DATE_TRUNC('hour', ts) - INTERVAL 1 HOUR AS TIMESTAMP), event_type FROM events
        |) GROUP BY window_start, event_type""".stripMargin) { (s, dir) =>
      val name = "str04_" + java.lang.Integer.toHexString(dir.hashCode)
      val agg = StreamOps.eventsStream(s, dir)
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "2 hours", "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").as("window_start"), col("event_type"), col("n"))
      val ckpt = graft.TmpDirs.ramCheckpointDir("str04")
      graft.streaming.EphemeralCkpt.withoutChecksums(s) {
        val q = agg.writeStream.format("memory").queryName(name)
          .option("checkpointLocation", ckpt)
          .outputMode("complete").start()
        try {
          q.processAllAvailable()
          graft.tools.StreamPlanAudit.record("str04", q)
        } finally {
          q.stop()
          graft.TmpDirs.deleteRecursively(new java.io.File(ckpt))
        }
      }
      s.table(name)
    }
  )
}
