package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.IntegerType

import graft.functions._

/** Build-time extension entry point, set as `spark.sql.extensions` by
  * the engine's session builder:
  * {{{
  *   val spark = graft.GraftSession.build()
  *   spark.sql("SELECT cosine_sim(a, b) FROM t")
  * }}}
  * injects the engine's planner strategies AND registers the custom
  * expressions as SQL functions, so `spark.sql("SELECT cosine_sim(a, b)
  * ...")` works with no Scala imports, in every session of the context.
  * The runtime twin for sessions built elsewhere is
  * [[GraftExtensions.register]] (strategies via
  * `graft.plans.AsOfJoin.register`).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    GraftExtensions.sqlFunctions.foreach(ext.injectFunction)
  }
}

object GraftExtensions {

  private def litInt(fn: String, arg: String)(e: Expression): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$fn: $arg must be an integer literal, got $other")
  }

  private def entry(name: String, arity: Int)(
      build: Seq[Expression] => Expression):
      (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = {
    val builder = (args: Seq[Expression]) => {
      require(args.length == arity, s"$name expects $arity arguments, got ${args.length}")
      build(args)
    }
    (FunctionIdentifier(name), new ExpressionInfo("graft.functions", name), builder)
  }

  /** SQL-callable registrations of every custom expression (scalar and
    * aggregate — bare AggregateFunctions are wrapped by the analyzer). */
  val sqlFunctions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    entry("cosine_sim", 2) { case Seq(a, b) => CosineSimilarity(a, b) },
    entry("dot_product", 2) { case Seq(a, b) => DotProduct(a, b) },
    entry("simhash64", 1) { case Seq(t) => SimHash64(t) },
    entry("simhash64_poly", 1) { case Seq(t) => SimHash64Poly(t) },
    entry("rolling_hash", 1) { case Seq(t) => RollingHash(t) },
    entry("mod_poly_hash", 1) { case Seq(t) => ModPolyHash(t) },
    entry("sorted_intersect_count", 2) { case Seq(a, b) => SortedIntersectCount(a, b) },
    entry("minhash_sig", 3) { case Seq(t, k, n) =>
      MinHashSignature(t, litInt("minhash_sig", "k")(k), litInt("minhash_sig", "shingleN")(n)) },
    entry("kmv_sketch", 2) { case Seq(c, k) =>
      KmvSketchAgg(c, litInt("kmv_sketch", "k")(k)) },
    entry("kmv_estimate", 2) { case Seq(s, k) =>
      KmvEstimate(s, litInt("kmv_estimate", "k")(k)) },
    entry("kmv_merge", 3) { case Seq(a, b, k) =>
      KmvMerge(a, b, litInt("kmv_merge", "k")(k)) },
    entry("kmv_intersect_estimate", 3) { case Seq(a, b, k) =>
      KmvIntersectEstimate(a, b, litInt("kmv_intersect_estimate", "k")(k)) })

  /** Runtime registration on a session not built by [[GraftSession]]
    * (functions + planner strategy), e.g. a notebook's. Idempotent. */
  def register(spark: SparkSession): Unit = {
    graft.plans.AsOfJoin.register(spark)
    sqlFunctions.foreach { case (ident, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(ident, info, builder)
    }
  }
}
