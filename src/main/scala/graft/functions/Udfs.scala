package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** The UDF/UDAF extension surface (SURVEY.md §2.B last row): the MySQL
  * UDF API's Spark analogues — `functions.udf` for scalars and typed
  * `Aggregator` for aggregates. Both demonstrated with semantics simple
  * enough to oracle-check in plain SQL.
  */
object Udfs {

  /** Scalar UDF logic: order-priority bucketing (registered via
    * functions.udf at the call site). Mirrored 1:1 in the oracle SQL. */
  def priorityBucket(priority: String): Int =
    if (priority == null) -1
    else if (priority.startsWith("1")) 0
    else if (priority.startsWith("2") || priority.startsWith("3")) 1
    else 2

  /** Distributed count-min-sketch estimation: the ~KB sketch bytes ride
    * the closure to every executor and deserialize ONCE per executor
    * (transient lazy), so per-key estimates run as a map over the keys
    * table instead of a driver-side loop — at 100× the key table can be
    * millions of rows and never needs to be collected. */
  class CmsEstimate(bytes: Array[Byte]) extends (Long => Long) with Serializable {
    @transient private lazy val cms = org.apache.spark.util.sketch.CountMinSketch
      .readFrom(new java.io.ByteArrayInputStream(bytes))
    def apply(key: Long): Long = cms.estimateCount(Long.box(key))
  }

  /** Typed Aggregator: exact discounted-revenue accumulator in scaled
    * longs (cents*10^4) — overflow-safe to ~9e14, i.e. ~90 trillion in
    * revenue units per group; order-independent, so deterministic under
    * any partitioning, and SQL-expressible for the oracle. */
  class DiscountedRevenue extends Aggregator[(Double, Double), Long, Double] {
    // in: (extendedprice, discount); buffer: scaled long; out: revenue
    override def zero: Long = 0L
    override def reduce(b: Long, in: (Double, Double)): Long = {
      val (price, disc) = in
      // price has 2 decimals, discount 2 decimals: price*(1-disc) has 4 —
      // scale by 10^4 and round to integer units
      b + math.round(price * (1.0 - disc) * 10000.0)
    }
    override def merge(a: Long, b: Long): Long = a + b
    override def finish(r: Long): Double = r / 10000.0
    override def bufferEncoder: Encoder[Long] = Encoders.scalaLong
    override def outputEncoder: Encoder[Double] = Encoders.scalaDouble
  }
}
